"""Driver-contract query catalog.

Each entry pairs a Spark implementation (running the engine's real
operator paths) with an ANSI-SQL oracle DuckDB can evaluate over the
same parquet tables. Column names and rounding are pinned on both
sides because the driver hashes values after sorting columns by name.

Tokenization in SQL uses DuckDB's RE2 '\\b[a-zA-Z0-9]+\\b', which
agrees with the Python/Java regex on ASCII input (the fixtures are
ASCII); query strings are tokenized at SQL-generation time with the
engine tokenizer so both sides see identical (term, qtf) sets.

Scores are rounded to 6 decimals BEFORE ranking on both sides so
float-association drift between engines can't flip a rank.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bm25_chroma_spark.functions.tokenizer import tokenize_py
from bm25_chroma_spark.operators.index_build import build_logical_index
from bm25_chroma_spark.operators.scoring import bm25_score_queries

K1 = 1.5
B = 0.75
ROUND = 6
TOP_K = 10

# Fixed flagship query set over the driver `documents` fixture
# (30-term vocabulary; includes duplicate tokens, unknown terms,
# mixed case — the semantics the reference pins down).
FLAGSHIP_QUERIES: List[Tuple[int, str]] = [
    (1, "spark join hash"),
    (2, "window agg group sort"),
    (3, "merge merge batch"),
    (4, "customer order line"),
    (5, "slow query scan filter"),
    (6, "vector stream data"),
    (7, "zzzunknown spark"),
    (8, "the table DUP"),
]

# SQL fragment: tokenized docs with per-doc length, empty docs dropped.
_SQL_DOCS = r"""
docs AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '\b[a-zA-Z0-9]+\b'),
                     t -> length(t) BETWEEN 2 AND 50) AS toks
  FROM documents
),
ne AS (
  SELECT doc_id, toks, len(toks)::INT AS dl FROM docs WHERE len(toks) > 0
)
"""

_SQL_TF = """
flat AS (SELECT doc_id, dl, unnest(toks) AS term FROM ne),
tf AS (
  SELECT doc_id, term, count(*)::INT AS tf, any_value(dl) AS dl
  FROM flat GROUP BY doc_id, term
)
"""


def _query_values_sql() -> str:
    rows = []
    for qid, text in FLAGSHIP_QUERIES:
        for term, qtf in sorted(Counter(tokenize_py(text)).items()):
            rows.append(f"({qid}, '{term}', {qtf})")
    return ",\n        ".join(rows)


def _load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_INDEX_CACHE: Dict[str, object] = {}


def _index(spark: SparkSession, sf_dir: str):
    # one logical index per sf_dir per process: entry queries reuse it
    # instead of re-tokenizing the corpus for every contract check.
    # LOSSLESS config: the reference's tf-ordered posting caps are not
    # SQL-expressible, so the oracle scores all postings — at the
    # driver's sf (<=0.01, 500 docs) the caps never bind and the two
    # configs are identical, while lossless stays oracle-equal at ANY
    # sf (at sf0.1 the 1000-posting query cap would bind and diverge).
    # Cap semantics themselves are pinned separately against the
    # reference in tests/test_caps_golden.py.
    from bm25_chroma_spark.config import LOSSLESS_CONFIG

    key = f"{id(spark)}:{sf_dir}"
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build_logical_index(
            _load_docs(spark, sf_dir), id_col="doc_id", text_col="text",
            config=LOSSLESS_CONFIG,
        )
    return _INDEX_CACHE[key]


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        FLAGSHIP_QUERIES, "query_id long, query_text string"
    )


# ----------------------------------------------------------------- #
# Spark-side implementations                                        #
# ----------------------------------------------------------------- #

def q_doc_uid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row ingest invariant: doc_uid = sha2(content, 256)."""
    return _load_docs(spark, sf_dir).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("doc_uid")
    )


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.doc_stats.select("doc_id", F.col("dl").cast("int").alias("dl"))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return spark.createDataFrame(
        [(idx.n_docs, round(idx.avgdl, ROUND))], "n_docs long, avgdl double"
    )


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.postings.select("term", F.col("df").cast("long").alias("df"))


def q_term_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    n = float(idx.n_docs)
    idf = F.log(
        (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    return idx.postings.select(
        "term", F.round(idf, ROUND).alias("idf")
    )


def q_term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.exploded().select(
        "term", "doc_id", F.col("tf").cast("int").alias("tf")
    )


def q_postings_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists with their pinned in-list rank (tf desc, doc_id asc)."""
    idx = _index(spark, sf_dir)
    return idx.exploded().select(
        "term",
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("pos").cast("int").alias("pos"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    res = bm25_score_queries(
        _queries_df(spark), idx, top_k=TOP_K, score_round=ROUND
    )
    return res.select(
        "query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )


# ----------------------------------------------------------------- #
# DuckDB oracles                                                    #
# ----------------------------------------------------------------- #

_ORACLES: Dict[str, str] = {}

_ORACLES["doc_uid"] = (
    "SELECT doc_id, sha256(text) AS doc_uid FROM documents"
)

_ORACLES["doc_lengths"] = f"WITH {_SQL_DOCS} SELECT doc_id, dl FROM ne"

_ORACLES["corpus_stats"] = (
    f"WITH {_SQL_DOCS} SELECT count(*)::BIGINT AS n_docs, "
    f"round(avg(dl), {ROUND}) AS avgdl FROM ne"
)

_ORACLES["term_df"] = (
    f"WITH {_SQL_DOCS}, {_SQL_TF} "
    "SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term"
)

_ORACLES["term_idf"] = f"""
WITH {_SQL_DOCS}, {_SQL_TF},
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
stats AS (SELECT count(*)::DOUBLE AS n FROM ne)
SELECT term,
       round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0), {ROUND}) AS idf
FROM df, stats s
"""

_ORACLES["term_tf"] = (
    f"WITH {_SQL_DOCS}, {_SQL_TF} SELECT term, doc_id, tf FROM tf"
)

_ORACLES["postings_rank"] = f"""
WITH {_SQL_DOCS}, {_SQL_TF}
SELECT term, doc_id, tf,
       row_number() OVER (
         PARTITION BY term ORDER BY tf DESC, doc_id ASC
       )::INT AS pos
FROM tf
"""


def _bm25_oracle() -> str:
    return f"""
WITH {_SQL_DOCS}, {_SQL_TF},
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM ne),
q(query_id, term, qtf) AS (VALUES
        {_query_values_sql()}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(
           ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * {K1 + 1.0}) /
             (tf.tf + {K1} * ({1.0 - B} + {B} * tf.dl / s.avgdl))
           / sqrt(tf.dl) * q.qtf
         ) AS raw
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(raw, {ROUND}) AS score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(raw, {ROUND}) DESC, doc_id ASC
         )::INT AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {TOP_K}
"""


_ORACLES["bm25_topk"] = _bm25_oracle()


# ----------------------------------------------------------------- #
# training-data pipeline operators                                   #
# ----------------------------------------------------------------- #

MINHASH_K = 8
SHINGLE_K = 3
JACCARD_T = 0.8
LSH_HASHES = 32   # MinHash-LSH banding params for the contract
LSH_BANDS = 16
LSH_RPB = LSH_HASHES // LSH_BANDS
SIMHASH_HAMMING = 8
SIMHASH_TABLES = 4
KNN_QUERY_IDS = [3, 77]  # query vectors = these embeddings rows
KNN_K = 10


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_load_docs(spark, sf_dir))


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.operators.dedup import (
        minhash_signature,
        word_shingles,
    )

    docs = _load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.posexplode(
            minhash_signature(
                word_shingles(F.col("text"), k=SHINGLE_K), MINHASH_K
            )
        ).alias("h", "sig"),
    ).select("doc_id", F.col("h").cast("int").alias("h"), "sig")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard scored ONLY on MinHash-LSH candidates —
    the scale-safe shape (no all-pairs crossJoin anywhere); the DuckDB
    oracle mirrors the banding exactly."""
    from bm25_chroma_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = _load_docs(spark, sf_dir)
    cand = minhash_lsh_candidates(
        docs, num_hashes=LSH_HASHES, bands=LSH_BANDS, shingle_k=SHINGLE_K
    )
    out = ngram_jaccard_pairs(
        docs, pairs=cand, shingle_k=SHINGLE_K, threshold=JACCARD_T
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", ROUND).alias("jaccard")
    )


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding candidates (md5 signatures + sha256 band
    hashes — both DuckDB-reproducible, so the oracle is exact)."""
    from bm25_chroma_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _load_docs(spark, sf_dir), num_hashes=LSH_HASHES, bands=LSH_BANDS,
        shingle_k=SHINGLE_K,
    )


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the md5 token hash (== DuckDB
    md5_number_upper), so signatures — and therefore the chunk
    blocking and hamming distances — are SQL-reproducible."""
    from bm25_chroma_spark.operators.dedup import simhash_near_dups

    out = simhash_near_dups(
        _load_docs(spark, sf_dir),
        max_hamming=SIMHASH_HAMMING,
        n_tables=SIMHASH_TABLES,
        token_hash="md5",
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    pairs (min-label propagation, no driver-side graph), singletons
    included — the grouping step before a dedup purge. Oracle mirrors
    it with a recursive transitive-closure CTE."""
    from bm25_chroma_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_candidates,
    )

    docs = _load_docs(spark, sf_dir)
    cand = minhash_lsh_candidates(
        docs, num_hashes=LSH_HASHES, bands=LSH_BANDS, shingle_k=SHINGLE_K
    )
    return dup_clusters(cand, ids=docs, id_col="doc_id").select(
        "id", "cluster_id"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.functions.text_analysis import lang_id

    return _load_docs(spark, sf_dir).select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.functions import text_analysis as ta

    return _load_docs(spark, sf_dir).select(
        "doc_id",
        ta.token_count_ws(F.col("text")).cast("int").alias("n_ws"),
        ta.token_count_bpe_ish(F.col("text")).cast("int").alias("n_bpe"),
        F.round(ta.punct_ratio(F.col("text")), ROUND).alias("punct"),
        F.round(ta.quality_score(F.col("text")), ROUND).alias("quality"),
    )


PACK_MAX_TOKENS = 256
PACK_GROUPS = 8


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-training sequence packing: deterministic salted-stream
    greedy bins (window cumsum per group — parallel across groups, no
    global sequential packer)."""
    from bm25_chroma_spark.functions.text_analysis import pack_sequences

    return pack_sequences(
        _load_docs(spark, sf_dir),
        max_tokens=PACK_MAX_TOKENS,
        n_groups=PACK_GROUPS,
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.functions.text_analysis import fingerprint_hex

    return _load_docs(spark, sf_dir).select(
        "doc_id", fingerprint_hex(F.col("text")).alias("fp")
    )


# Gopher-style repetition signals (Rae et al. 2021 §A1.1): which
# n sizes the entry pins — top-gram fraction at 2, duplicated-gram
# fraction at 3 (the paper's smallest of each family).
REP_TOP_N = 2
REP_DUP_N = 3


def q_rep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition/quality signals: duplicate-line fraction,
    top-2-gram share, duplicated-3-gram share — all pure JVM
    expressions (scan-speed, no shuffle)."""
    from bm25_chroma_spark.functions import text_analysis as ta

    t = F.col("text")
    return _load_docs(spark, sf_dir).select(
        "doc_id",
        ta.line_count(t).cast("int").alias("n_lines"),
        F.round(ta.duplicate_line_fraction(t), ROUND).alias(
            "dup_line_frac"
        ),
        F.size(ta.word_ngrams(t, REP_TOP_N)).cast("int").alias("n_grams2"),
        ta.top_ngram_count(t, REP_TOP_N).cast("int").alias("top2_count"),
        F.round(ta.top_ngram_fraction(t, REP_TOP_N), ROUND).alias(
            "top2_frac"
        ),
        F.size(ta.word_ngrams(t, REP_DUP_N)).cast("int").alias("n_grams3"),
        ta.duplicate_ngram_count(t, REP_DUP_N).cast("int").alias(
            "dup3_count"
        ),
        F.round(ta.duplicate_ngram_fraction(t, REP_DUP_N), ROUND).alias(
            "dup3_frac"
        ),
    )


# Decontamination entry: every 5th doc plays the benchmark/eval set,
# the rest the training corpus; 8-gram overlap (13 is the published
# default, but the fixture docs are short word-soup — 8 keeps a
# meaningful deterministic hit set at sf<=0.01).
DECON_N = 8
DECON_MOD = 5


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing an 8-gram with the benchmark subset.
    hash_grams=False: the oracle joins gram strings, so the entry
    must be collision-proof by construction (the operator's default
    xxhash64 keys are the at-scale path)."""
    from bm25_chroma_spark.operators.decontam import contaminated_docs

    docs = _load_docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    return contaminated_docs(train, bench, n=DECON_N, hash_grams=False)


# Repeated-span removal entry (Lee et al. 2021 ExactSubstr shape):
# every 4th doc gets a fixed 12-token boilerplate block appended —
# deterministically in BOTH engines — which the operator must cut
# from every occurrence; the rest of the corpus may contribute a few
# natural word-soup repeats, which both engines compute identically.
# Mixed-case boilerplate exercises the lowercased-match /
# original-case-rebuild contract. hash_grams=False so the oracle's
# string-keyed join is collision-proof by construction (xxhash64 keys
# are the at-scale default).
SPAN_TOKENS = 6
SPAN_MOD = 4
SPAN_BOILER = (
    "All Rights Reserved unsubscribe from this Newsletter "
    "by clicking the Link below"
)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated spans cut from planted boilerplate;
    cleaned text rides as md5 so the hash check covers the full
    rebuilt output."""
    from bm25_chroma_spark.operators.span_dedup import (
        remove_repeated_spans,
    )

    docs = _load_docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SPAN_MOD == 0,
            F.concat(F.col("text"), F.lit(" " + SPAN_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = remove_repeated_spans(
        docs, span_tokens=SPAN_TOKENS, min_docs=2, hash_grams=False
    )
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_removed"
    )


def q_span_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash_grams=True DEFAULT path (struct-zip xxhash64 keys —
    the at-scale shape) against the SAME string-keyed SQL oracle:
    results are identical unless a 64-bit shingle-key collision
    occurs, which at the fixture's ~30k distinct shingles has
    probability ~2^-34 per run and would over-remove (conservative
    direction) — so a hash match here is direct oracle evidence for
    the production code path, not just the oracle-friendly one."""
    from bm25_chroma_spark.operators.span_dedup import (
        remove_repeated_spans,
    )

    docs = _load_docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SPAN_MOD == 0,
            F.concat(F.col("text"), F.lit(" " + SPAN_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = remove_repeated_spans(
        docs, span_tokens=SPAN_TOKENS, min_docs=2, hash_grams=True
    )
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_removed"
    )


CHUNK_MAX = 16


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents split into consecutive <=16-word chunks (the
    pre-packing stage; 16 keeps several chunks per fixture doc)."""
    from bm25_chroma_spark.functions.text_analysis import chunk_documents

    return chunk_documents(
        _load_docs(spark, sf_dir), max_tokens=CHUNK_MAX
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over deterministically injected PII (the fixture has
    none): both engines append the same synthetic email/IP/phone to
    each doc, then count + redact; the redacted text rides as md5 so
    the hash check covers the full replacement output."""
    from bm25_chroma_spark.functions import text_analysis as ta

    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.1.2."),
        F.pmod(F.col("doc_id"), F.lit(250)).cast("string"),
        F.lit(" call +1 (555) 010-"),
        F.lpad(
            F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"
        ),
    )
    counts = ta.pii_counts(injected)
    return _load_docs(spark, sf_dir).select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.md5(ta.redact_pii(injected)).alias("red_md5"),
    )


# C4 cleaning entry (Raffel et al. 2020 §2.2): the fixture text is
# single-line word soup, so both engines build the same deterministic
# multi-line document around it — good/short/unterminated/javascript
# lines, plus a lorem-ipsum line on every 7th doc and a curly-brace
# line on every 11th (document-level discard flags).
C4_MIN_KEPT = 3


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line+document cleaning over injected multi-line text;
    cleaned text rides as md5 so the hash check covers the full
    surviving-line join."""
    from bm25_chroma_spark.functions.web_clean import c4_clean

    did = F.col("doc_id")
    injected = F.concat_ws(
        "\n",
        F.concat(
            F.lit("This is a good sentence number "),
            did.cast("string"), F.lit("."),
        ),
        F.lit("too short."),
        F.lit("no terminal punctuation here"),
        F.concat(
            F.lit("Another fine sentence for doc "),
            did.cast("string"), F.lit("!"),
        ),
        F.lit("Enable javascript to view this page."),
        F.when(
            did % 7 == 0, F.lit("lorem ipsum dolor sit amet.")
        ).otherwise(F.lit("A third sentence to pass the bar.")),
        F.when(
            did % 11 == 0, F.lit("code { brace line")
        ).otherwise(F.lit("The final sentence, number four.")),
        # a CLOSING brace alone must also kill the page (C4 discards
        # on either bracket — the r7 ADVICE fix, pinned cross-engine)
        F.when(
            did % 13 == 0, F.lit("ends with closing } here.")
        ).otherwise(F.lit("Sentence five is fine too.")),
    )
    docs = _load_docs(spark, sf_dir).select(
        "doc_id", injected.alias("text")
    )
    out = c4_clean(docs, min_kept_lines=C4_MIN_KEPT)
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        "n_kept", "n_dropped", "c4_keep",
    )


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain lowering over deterministically
    injected URLs (the fixture has none)."""
    from bm25_chroma_spark.functions.web_clean import (
        extract_urls,
        url_domains,
    )

    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" see https://Example"),
        F.pmod(did, F.lit(50)).cast("string"),
        F.lit(".com/page?x=1 and http://sub.test-"),
        F.pmod(did, F.lit(7)).cast("string"),
        F.lit(".org/path."),
    )
    return _load_docs(spark, sf_dir).select(
        "doc_id",
        F.size(extract_urls(injected)).cast("int").alias("n_urls"),
        F.array_join(url_domains(injected), ",").alias("domains"),
    )


def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML extraction over deterministically injected markup (the
    fixture has none): each rule class is exercised — doctype,
    title/h1/p/br block boundaries, style + script blocks WITH
    contents (incl. a brace and a fake tag inside), a comment, and
    the named/numeric entity set. md5 + length of the extracted text
    make the hash check cover every replacement step."""
    from bm25_chroma_spark.functions.web_clean import strip_html

    did = F.col("doc_id")
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "),
        did.cast("string"),
        F.lit(
            ' heading.</title><style type="text/css">body '
            "{ color: red; }</style>"
            "<script>var x = 1 && 2; // <b>not bold</b></script>"
            "</head><body><!-- hidden comment --><h1>Title "
        ),
        did.cast("string"),
        F.lit(
            " stands here.</h1><p>First &amp; second &lt;tag&gt; "
            "&quot;quoted&quot; words.</p><p>"
        ),
        F.col("text"),
        F.lit(
            "</p><br>Line after break.&nbsp;Extra&#39;s done."
            "</body></html>"
        ),
    )
    out = strip_html(html)
    return _load_docs(spark, sf_dir).select(
        "doc_id",
        F.md5(out).alias("strip_md5"),
        F.length(out).cast("int").alias("strip_len"),
    )


# domain-blocklist fixture (q_blocked_domains + its oracle derive the
# VALUES list from this constant; the mixed case pins the lowering)
BLOCKLIST_FIXTURE = (
    "example3.com",
    "EXAMPLE17.com",
    "sub.test-2.org",
    "never-linked.example",
)


def q_blocked_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_blocked_domains over the url_domains injection against
    a fixed blocklist: docs whose id%50 is 3 or 17, or id%7 == 2,
    link to a blocked domain; everything else stays clean. The
    never-linked entry pins that unmatched blocklist rows are
    harmless."""
    from bm25_chroma_spark.functions.web_clean import (
        filter_blocked_domains,
    )

    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" see https://Example"),
        F.pmod(did, F.lit(50)).cast("string"),
        F.lit(".com/page?x=1 and http://sub.test-"),
        F.pmod(did, F.lit(7)).cast("string"),
        F.lit(".org/path."),
    )
    docs = _load_docs(spark, sf_dir).select(
        "doc_id", injected.alias("text")
    )
    bl = spark.createDataFrame(
        [(d,) for d in BLOCKLIST_FIXTURE], "domain string"
    )
    return filter_blocked_domains(docs, bl).select(
        "doc_id",
        "domain_blocked",
        F.coalesce("blocked_domain", F.lit("")).alias(
            "blocked_domain"
        ),
    )


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "bm25s"


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold train/val/test assignment; the
    digest column rides along so the oracle check is bit-exact on
    the hash itself, not just the derived label."""
    from bm25_chroma_spark.functions.splits import hash_split

    return hash_split(
        _load_docs(spark, sf_dir).select("doc_id"),
        SPLIT_WEIGHTS,
        salt=SPLIT_SALT,
        hash_col="h",
    )


MIX_RATES = {"en": 1.0, "fr": 0.5, "de": 0.25, "es": 0.75}
MIX_SALT = "mix8"
MIX_DEFAULT = 0.1  # zh and anything unlisted


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified source mixing: per-`lang` deterministic keep rates
    (flag-not-drop so the oracle checks BOTH decisions)."""
    from bm25_chroma_spark.functions.splits import stratified_sample

    return stratified_sample(
        _load_docs(spark, sf_dir).select("doc_id", "lang"),
        MIX_RATES,
        "lang",
        salt=MIX_SALT,
        default_rate=MIX_DEFAULT,
        keep_col="keep",
    )


N_SHARDS = 8
SHARD_SALT = "sh8"


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + the manifest agg the
    shard writer commits (per-shard rows / payload / id range)."""
    from bm25_chroma_spark.operators.sharding import assign_shards

    docs = _load_docs(spark, sf_dir).select("doc_id", "n_chars")
    return (
        assign_shards(docs, N_SHARDS, salt=SHARD_SALT)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


LM_MIN_COUNT = 2
LM_ALPHA = 0.4


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM trained on the corpus itself, then
    scoring every document (the CCNet perplexity-filter stage).
    min_count=2 exercises pruning, so rare words hit the OOV floor
    and rare bigrams hit the backoff branch in both engines."""
    from bm25_chroma_spark.operators.lm import score_lm, train_word_lm

    docs = _load_docs(spark, sf_dir)
    lm = train_word_lm(docs, min_count=LM_MIN_COUNT)
    return score_lm(docs, lm, alpha=LM_ALPHA, round_to=ROUND)


# the "curated" seed for the NB quality classifier: a fixed source
# subset (deterministic in both engines; NULL source counts as crawl)
NB_CURATED_SOURCES = ("src0", "src1", "src2", "src3")
NB_MIN_COUNT = 2


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-vs-crawl Naive Bayes quality score (the GPT-3-recipe
    discriminative filter): train on a fixed source subset as the
    curated seed vs the rest as crawl, then score every document.
    min_count=2 exercises pruning, so rare words take the smoothed
    OOV floor in both engines."""
    from bm25_chroma_spark.operators.quality_clf import (
        score_nb_quality,
        train_nb_quality,
    )

    docs = _load_docs(spark, sf_dir)
    is_pos = F.when(
        F.col("source").isin(*NB_CURATED_SOURCES), F.lit(1)
    ).otherwise(F.lit(0))
    labeled = docs.withColumn("__y", is_pos)
    model = train_nb_quality(
        labeled.filter(F.col("__y") == 1),
        labeled.filter(F.col("__y") == 0),
        min_count=NB_MIN_COUNT,
    )
    return score_nb_quality(docs, model, round_to=ROUND)


def _knn_query_vecs(spark: SparkSession, sf_dir: str):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(KNN_QUERY_IDS)).collect()
    }
    return [rows[i] for i in KNN_QUERY_IDS]


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = knn_bruteforce(
        emb, _knn_query_vecs(spark, sf_dir), k=KNN_K, score_round=ROUND
    )
    return res.select(
        "query_id",
        "vec_id",
        # +0.0 canonicalizes IEEE negative zero (self-match distance)
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bm25_chroma_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dups(emb, threshold=0.5, use_lsh=False)
    return out.select(
        "id_a", "id_b", F.round("cosine", ROUND).alias("cosine")
    )


LSH_EMB_PLANES = 6
LSH_EMB_TABLES = 8
LSH_EMB_SEED = 42
LSH_EMB_DIM = 64  # driver embeddings fixture dimension


def q_embedding_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of embedding dedup: random-hyperplane bucketed
    candidates (no all-pairs join), exact cosine on survivors. The
    oracle inlines the deterministic hyperplanes as SQL literals and
    mirrors the bucketing bit-for-bit."""
    from bm25_chroma_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dups(
        emb,
        threshold=0.5,
        use_lsh=True,
        n_planes=LSH_EMB_PLANES,
        n_tables=LSH_EMB_TABLES,
        seed=LSH_EMB_SEED,
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", ROUND).alias("cosine")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors — the 100 TB similarity-search
    path: signed-random-projection buckets, multi-table + query-side
    multiprobe, exact cosine re-rank on candidates only. Deterministic
    given the seed, so the oracle mirrors every bucket join with the
    hyperplanes inlined as SQL literals."""
    from bm25_chroma_spark.operators.knn import knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = knn_lsh(
        emb,
        _knn_query_vecs(spark, sf_dir),
        k=KNN_K,
        n_planes=LSH_EMB_PLANES,
        n_tables=LSH_EMB_TABLES,
        multiprobe=1,
        seed=LSH_EMB_SEED,
        score_round=ROUND,
    )
    return res.select(
        "query_id",
        "vec_id",
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


IVF_CELLS = 8
IVF_NPROBE = 3


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors, IVF style — the inverted-file
    scale path alongside ann_lsh: a deterministic coarse quantizer
    (medoid seeds = the IVF_CELLS smallest-id vectors; production
    plugs in k-means centroids) assigns every vector to a cell, each
    query probes its IVF_NPROBE nearest cells only, exact cosine
    rerank within them. Every distance on both the corpus and the
    query side goes through the same left-fold expressions, so the
    SQL oracle mirrors cell assignment, probing, and rerank
    bit-for-bit."""
    from bm25_chroma_spark.operators.knn import knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = knn_ivf(
        emb,
        _knn_query_vecs(spark, sf_dir),
        k=KNN_K,
        n_cells=IVF_CELLS,
        nprobe=IVF_NPROBE,
        score_round=ROUND,
    )
    return res.select(
        "query_id",
        "vec_id",
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a k-means-TRAINED coarse quantizer
    (ivf_train_centroids: distributed Lloyd iterations, one
    map-side-combined aggregation per round, seeded from the
    deterministic medoids — the production quantizer the plain
    ann_ivf entry stubs with seeds).

    Oracle (r8, retiring the last rows-only entry): the 2 Lloyd
    iterations are UNROLLED as chained CTEs in the DuckDB mirror —
    assignment via the same left-fold argmin, update via per-dimension
    SUM/COUNT per cell (see _ivf_oracle(trained_iters=2)). The r6
    bit-reproducible partial-sum ordering makes the raw centroid
    doubles measure bit-identical across engines at all three SFs;
    the round(x, 6) below guards any future last-ulp reassociation.
    The trainer's recall/balance dominance over the seeds stays
    pinned in test_ivf_trained_centroids_beat_seeds."""
    from bm25_chroma_spark.operators.knn import ivf_train_centroids, knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_train_centroids(emb, IVF_CELLS, n_iters=2)
    # rows-only contract asserts run-to-run determinism, but the
    # trainer's centroid sums merge shuffle partials in
    # nondeterministic fetch order — fix the centroids to 6 decimals
    # so last-ulp summation drift can never flip a boundary cell
    # assignment between runs (recall is unaffected: 1e-6 is far
    # below any inter-centroid distance at this scale)
    centroids = [[round(x, 6) for x in c] for c in centroids]
    res = knn_ivf(
        emb,
        _knn_query_vecs(spark, sf_dir),
        k=KNN_K,
        n_cells=IVF_CELLS,
        nprobe=IVF_NPROBE,
        centroids=centroids,
        score_round=ROUND,
    )
    return res.select(
        "query_id",
        "vec_id",
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


_IVF_STORE_CACHE: Dict[str, str] = {}


def q_ann_ivf_trained0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED-quantizer plumbing under a hash-checked oracle
    (VERDICT r5 #2): ``ivf_train_centroids(..., n_iters=0)`` — whose
    equality with the medoid seeds is separately pinned by
    test_ivf_trainer_degenerate_and_numpy_lloyd_parity — feeds
    explicit centroids into ``knn_ivf`` exactly like the production
    trained path, with the centroids rounded to ROUND decimals
    (+0.0 canonicalizes IEEE -0.0). Every float op downstream is the
    same left-fold expression the SQL oracle mirrors, so this entry
    hash-matches DuckDB while exercising the explicit-centroid code
    path end to end (the 2-iteration trainer itself stays under the
    rows-only ann_ivf_trained entry + the in-repo numpy-Lloyd parity
    test — its centroid floats depend on distributed summation order
    and are not single-pass-SQL expressible)."""
    from bm25_chroma_spark.operators.knn import ivf_train_centroids, knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_train_centroids(emb, IVF_CELLS, n_iters=0)
    centroids = [[round(x, ROUND) + 0.0 for x in c] for c in centroids]
    res = knn_ivf(
        emb,
        _knn_query_vecs(spark, sf_dir),
        k=KNN_K,
        n_cells=IVF_CELLS,
        nprobe=IVF_NPROBE,
        centroids=centroids,
        score_round=ROUND,
    )
    return res.select(
        "query_id",
        "vec_id",
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the MATERIALIZED inverted file: the embeddings table
    is written once partitioned by cell (ivf_write_partitioned,
    cached per sf_dir for the session) and the query probes it with
    partition pruning (knn_ivf_partitioned — PartitionFilters carry
    the probed cells; see PLANS.md).

    Hash-checked against the same _ivf_oracle() as ann_ivf since r6:
    at this quantizer size knn_ivf_partitioned's probe selection runs
    through the shared _expr_probes column expressions — the same
    left-fold arithmetic as the store's ingest-time cell assignment
    and the SQL mirror — so the materialized+pruned path must return
    bit-identical rows to the in-memory entry (which
    test_ivf_partitioned_store_prunes_and_matches also pins engine-
    side). Deterministic: seeded quantizer, expr probe order,
    round-before-rank."""
    import tempfile

    from bm25_chroma_spark.operators.knn import (
        ivf_seed_centroids,
        ivf_write_partitioned,
        knn_ivf_partitioned,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_seed_centroids(emb, IVF_CELLS)
    store = _IVF_STORE_CACHE.get(sf_dir)
    if store is None:
        store = tempfile.mkdtemp(prefix="entry_ivf_") + "/store"
        ivf_write_partitioned(emb, store, centroids)
        _IVF_STORE_CACHE[sf_dir] = store
    res = knn_ivf_partitioned(
        spark,
        store,
        _knn_query_vecs(spark, sf_dir),
        centroids,
        k=KNN_K,
        nprobe=IVF_NPROBE,
        score_round=ROUND,
    )
    return res.select(
        "query_id",
        "vec_id",
        (F.col("dist") + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full hybrid: BM25 leg + exact-KNN leg fused with RRF (ratio
    0.5, k=60, candidate widening x2 like the reference facade)."""
    from bm25_chroma_spark.operators.fusion import rrf_fuse
    from bm25_chroma_spark.operators.knn import knn_bruteforce

    n_results = 10
    idx = _index(spark, sf_dir)
    bm25 = bm25_score_queries(
        _queries_df(spark).filter(F.col("query_id").isin([1, 2])),
        idx,
        top_k=n_results * 2,
        score_round=ROUND,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    knn = knn_bruteforce(
        emb, _knn_query_vecs(spark, sf_dir), k=n_results * 2,
        score_round=ROUND,
    ).withColumn("query_id", F.col("query_id") + 1)  # align ids 1,2
    fused = rrf_fuse(
        [
            bm25.select("query_id", "doc_id", "rank"),
            knn.select(
                "query_id", F.col("vec_id").alias("doc_id"), "rank"
            ),
        ],
        weights=[0.5, 0.5],
        k=60,
        top_k=n_results,
        score_round=9,
    )
    return fused.select(
        "query_id", "doc_id", "rrf_score",
        F.col("rank").cast("int").alias("rank"),
    )


def q_query_df_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-user facade drive: DataFrame-native ingest of the
    documents table into a SparkHybridRetriever (sharded index +
    executor-side hashed-BoW embedding) and the batch DataFrame-out
    hybrid surface ``query_df`` over the flagship query set. That set
    is within query_df's driver bound, so its legs and fusion run on
    the driver (query()'s helpers); an offline evaluation over 100k+
    queries runs the distributed plan, which returns the same rows.

    Hash-checked since r7 (VERDICT-r6 #2): the entry's retriever
    takes ``doc_id_expr = cast(doc_uid as long)`` — uids here are
    numeric strings, so the internal ids ARE the parquet doc_id and
    every rank tie-break (bm25 leg doc_id asc, knn leg vec_id asc,
    RRF doc_uid-string asc) is SQL-mirrorable, where the production
    default xxhash64 has no DuckDB twin — and ``score_round=ROUND``
    so leg ranks order on 6-decimal scores (the cross-engine float
    contract; raw multi-term sums are order-sensitive at ulp scale).
    The tie-break is engine-pinned either way: the reference's own
    tie order is undefined (SURVEY §7.1). query_df == query() parity
    stays pytest-pinned on the production configuration. The oracle
    assumes every flagship query answers on BOTH legs (true by
    construction: each query contains a known vocabulary term, and
    vectors exist for every doc), so only the fused path is
    mirrored."""
    import tempfile

    from bm25_chroma_spark.plans.retriever import (
        SparkHybridRetriever,
        hashed_bow_embedder,
    )

    r = SparkHybridRetriever(
        spark,
        tempfile.mkdtemp() + "/qdf_state",
        embedding_function=hashed_bow_embedder,
        doc_id_expr=lambda c: c.cast("long"),
    )
    r.add_documents_df(
        _load_docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_uid"), "text"
        )
    )
    out = r.query_df(
        _queries_df(spark), n_results=TOP_K, score_round=ROUND
    )
    return out.select(
        "query_id",
        "doc_uid",
        (F.round("score", ROUND) + F.lit(0.0)).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


# ----------------------------------------------------------------- #
# oracles for the pipeline operators                                 #
# ----------------------------------------------------------------- #

_ORACLES["dedup_exact"] = """
SELECT sha256(text) AS content_hash, count(*)::BIGINT AS dup_count,
       min(doc_id) AS keep_id
FROM documents GROUP BY sha256(text)
"""

_SQL_SHINGLES = rf"""
w AS (SELECT doc_id, regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS words
      FROM documents),
sh AS (SELECT doc_id,
              list_distinct(list_transform(
                range(1, greatest(len(words) - {SHINGLE_K - 1}, 1) + 1),
                i -> array_to_string(words[i:i + {SHINGLE_K - 1}], ' ')
              )) AS shingles
       FROM w)
"""

def _affine_values_sql(num_hashes: int) -> str:
    from bm25_chroma_spark.operators.dedup import _affine_params

    return ", ".join(
        f"({h}, {a}, {b})"
        for h, (a, b) in enumerate(_affine_params(num_hashes))
    )


# Per-shingle base hash: first 13 md5 hex chars as a 52-bit integer
# (shift-add — exact in BIGINT; Spark mirrors with conv(substr(md5),
# 16, 10)), reduced mod 2^31-1 for ANSI-overflow-safe affine maps.
_SQL_BASE_HASH = (
    "(list_sum(list_transform(range(1, 14), "
    "i -> ((strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1)::BIGINT"
    " << (4 * (13 - i)))))::BIGINT % 2147483647)"
)

_ORACLES["minhash_sigs"] = f"""
WITH {_SQL_SHINGLES},
params(h, a, b) AS (VALUES {_affine_values_sql(MINHASH_K)}),
sb AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hb AS (SELECT doc_id, {_SQL_BASE_HASH} AS hb FROM sb)
SELECT doc_id, h::INT AS h,
       min((a * hb + b) % 2147483647)::BIGINT AS sig
FROM hb CROSS JOIN params
GROUP BY doc_id, h
"""

# MinHash-LSH banding, mirrored bit-for-bit: universal-hash affine
# signatures over the md5-prefix base hash, sha256 over '|'-joined
# per-band slices, pairs via (band, band_hash) equality. Depends on
# the `sh` CTE (_SQL_SHINGLES).
_SQL_LSH_CAND = f"""
lparams(h, a, b) AS (VALUES {_affine_values_sql(LSH_HASHES)}),
sb AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hb AS (SELECT doc_id, {_SQL_BASE_HASH} AS hb FROM sb),
hs AS (SELECT doc_id, h, min((a * hb + b) % 2147483647) AS msig
       FROM hb CROSS JOIN lparams GROUP BY doc_id, h),
sigarr AS (SELECT doc_id, list(msig ORDER BY h) AS sig
           FROM hs GROUP BY doc_id),
bands AS (SELECT doc_id, b.b AS band,
                 sha256(array_to_string(
                   sig[b.b*{LSH_RPB}+1 : b.b*{LSH_RPB}+{LSH_RPB}], '|'
                 )) AS band_hash
          FROM sigarr CROSS JOIN range(0, {LSH_BANDS}) AS b(b)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         FROM bands a JOIN bands c
         ON a.band = c.band AND a.band_hash = c.band_hash
            AND a.doc_id < c.doc_id)
"""

_ORACLES["lsh_candidates"] = f"""
WITH {_SQL_SHINGLES}, {_SQL_LSH_CAND}
SELECT id_a, id_b FROM cand
"""

_ORACLES["jaccard_pairs"] = f"""
WITH {_SQL_SHINGLES}, {_SQL_LSH_CAND}
SELECT cand.id_a, cand.id_b,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)), {ROUND})
         AS jaccard
FROM cand
JOIN sh a ON a.doc_id = cand.id_a
JOIN sh b ON b.doc_id = cand.id_b
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / len(list_distinct(a.shingles || b.shingles)) >= {JACCARD_T}
"""

_ORACLES["dup_clusters"] = f"""
WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_LSH_CAND},
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION
  SELECT id_b AS a, id_a AS b FROM cand
),
reach(id, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
),
lbl AS (
  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id AS id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
"""

# SimHash with the md5 token hash: md5_number_upper(tok) IS the
# little-endian first-8-bytes md5 the Spark UDF uses; votes, chunk
# blocking (4 x 16-bit) and hamming all reproduced in SQL.
_ORACLES["simhash_dups"] = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS words
  FROM documents
),
tok AS (SELECT doc_id, unnest(words) AS tok FROM w),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (md5_number_upper(tok) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM tok CROSS JOIN range(0, 64) AS b(bit)
  WHERE tok <> ''
  GROUP BY doc_id, b.bit
),
sig0 AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::UBIGINT << bit)
                  ELSE 0::UBIGINT END)::UBIGINT AS sig
  FROM votes GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id, coalesce(s.sig, 0::UBIGINT) AS sig
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
),
chunks AS (
  SELECT doc_id, sig, t.t AS tbl,
         (sig >> (t.t * 16)) & 65535 AS chunk
  FROM sig CROSS JOIN range(0, {SIMHASH_TABLES}) AS t(t)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM chunks a JOIN chunks b
  ON a.tbl = b.tbl AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAMMING}
"""

# stopword lists imported from the engine so the oracle can never
# drift from what lang_id actually votes on (they were a copy before
# r7's coverage extension to 8 languages)
from bm25_chroma_spark.functions.text_analysis import (  # noqa: E402
    STOPWORDS as _SW,
)


def _sql_lang_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _SW[lang])
    return (
        f"len(list_filter(words, x -> list_contains([{lst}], x)))"
    )


def _lang_id_oracle() -> str:
    """Generated mirror of lang_id's array_max-over-(hits, lang)
    vote: highest hit count wins, ties break toward the
    lexicographically LARGER language code — so the CASE tests codes
    in DESCENDING order."""
    langs = sorted(_SW)
    hits = ",\n         ".join(
        f"{_sql_lang_hits(lg)} AS h_{lg}" for lg in langs
    )
    g = "greatest({})".format(", ".join(f"h_{lg}" for lg in langs))
    desc = sorted(langs, reverse=True)
    cases = "\n            ".join(
        f"WHEN h_{lg} = {g} THEN '{lg}'" for lg in desc[:-1]
    )
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS words
  FROM documents
),
h AS (
  SELECT doc_id,
         {hits}
  FROM w
)
SELECT doc_id,
       CASE WHEN {g} = 0 THEN 'und'
            {cases}
            ELSE '{desc[-1]}' END AS lang_pred
FROM h
"""


_ORACLES["lang_id"] = _lang_id_oracle()

_SQL_EN_SW = ", ".join(f"'{w}'" for w in _SW["en"])

_ORACLES["text_quality"] = rf"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS words,
         CASE WHEN regexp_matches(text, '^\s*$') THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'))
         END AS n_ws,
         len(regexp_extract_all(lower(text),
             '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
         length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g')) AS punct
  FROM documents
),
m AS (
  SELECT doc_id, n_ws, n_bpe,
         CASE WHEN nonspace > 0
              THEN punct::DOUBLE / nonspace ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_ws > 0
              THEN len(list_filter(words,
                       x -> list_contains([{_SQL_EN_SW}], x)))::DOUBLE
                   / n_ws
              ELSE 0.0 END AS sw_ratio
  FROM base
)
SELECT doc_id, n_ws::INT AS n_ws, n_bpe::INT AS n_bpe,
       round(punct_ratio, {ROUND}) AS punct,
       round(
         (least(n_ws / 20.0, 1.0)
            * (CASE WHEN n_ws > 2000 THEN 0.5 ELSE 1.0 END)) * 0.4
         + (1.0 - least(punct_ratio * 2.0, 1.0)) * 0.3
         + least(sw_ratio * 5.0, 1.0) * 0.3,
         {ROUND}) AS quality
FROM m
"""

_ORACLES["seq_packing"] = rf"""
-- pack_group mirrors Spark's F.pmod (always non-negative); DuckDB's
-- % is sign-preserving, so the double-mod keeps the two engines
-- identical for negative (e.g. xxhash64-derived) doc ids.
WITH t AS (
  SELECT doc_id,
         (CASE WHEN regexp_matches(text, '^\s*$') THEN 0
               ELSE len(regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'))
          END)::INT AS n_tokens,
         (((doc_id % {PACK_GROUPS}) + {PACK_GROUPS})
            % {PACK_GROUPS})::INT AS pack_group
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, pack_group,
         sum(n_tokens) OVER (
           PARTITION BY pack_group ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING
         ) - n_tokens AS cum_before
  FROM t
)
SELECT doc_id, n_tokens, pack_group,
       floor(cum_before / {PACK_MAX_TOKENS}.0)::BIGINT AS pack_bin
FROM c
"""

_ORACLES["fingerprint"] = r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'))), ' ')) AS fp
FROM documents
"""

# rep_signals: n-grams list-wise (DuckDB scalar range() + list slice
# are 1-based inclusive); the top-gram count goes through unnest +
# GROUP BY with a LEFT JOIN back so gram-less docs keep a 0. The
# `+ 0.0` after round() canonicalizes DuckDB's IEEE -0.0.
_ORACLES["rep_signals"] = rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines,
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w,
         regexp_matches(text, '^\s*$') AS blank
  FROM documents
),
g AS (
  SELECT doc_id, lines,
         CASE WHEN blank OR len(w) < {REP_TOP_N}
              THEN CAST([] AS VARCHAR[])
              ELSE list_transform(
                     range(1, len(w) - {REP_TOP_N} + 2),
                     i -> array_to_string(w[i:i+{REP_TOP_N - 1}], ' '))
         END AS g2,
         CASE WHEN blank OR len(w) < {REP_DUP_N}
              THEN CAST([] AS VARCHAR[])
              ELSE list_transform(
                     range(1, len(w) - {REP_DUP_N} + 2),
                     i -> array_to_string(w[i:i+{REP_DUP_N - 1}], ' '))
         END AS g3
  FROM base
),
f2 AS (SELECT doc_id, unnest(g2) AS gram FROM g),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM f2 GROUP BY doc_id, gram),
t2 AS (SELECT doc_id, max(c) AS topc FROM c2 GROUP BY doc_id)
SELECT g.doc_id,
  len(g.lines)::INT AS n_lines,
  round(CASE WHEN len(g.lines) > 0
             THEN (len(g.lines) - len(list_distinct(g.lines)))::DOUBLE
                  / len(g.lines)
             ELSE 0.0 END, {ROUND}) + 0.0 AS dup_line_frac,
  len(g.g2)::INT AS n_grams2,
  coalesce(t2.topc, 0)::INT AS top2_count,
  round(CASE WHEN len(g.g2) > 0
             THEN coalesce(t2.topc, 0)::DOUBLE / len(g.g2)
             ELSE 0.0 END, {ROUND}) + 0.0 AS top2_frac,
  len(g.g3)::INT AS n_grams3,
  (len(g.g3) - len(list_distinct(g.g3)))::INT AS dup3_count,
  round(CASE WHEN len(g.g3) > 0
             THEN (len(g.g3) - len(list_distinct(g.g3)))::DOUBLE
                  / len(g.g3)
             ELSE 0.0 END, {ROUND}) + 0.0 AS dup3_frac
FROM g LEFT JOIN t2 USING (doc_id)
"""

_ORACLES["decontam"] = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w
  FROM documents WHERE NOT regexp_matches(text, '^\s*$')
),
idx AS (
  SELECT doc_id, unnest(range(1, len(w) - {DECON_N} + 2)) AS i, w
  FROM toks WHERE len(w) >= {DECON_N}
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+{DECON_N - 1}], ' ') AS gram
  FROM idx
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_MOD} = 0
)
SELECT g.doc_id, count(DISTINCT g.gram)::INT AS n_hit_grams
FROM grams g JOIN bench USING (gram)
WHERE g.doc_id % {DECON_MOD} != 0
GROUP BY g.doc_id
"""


# c4_clean: independent DuckDB mirror of the Raffel et al. rules —
# list primitives for the line pipeline, same injected document.
_ORACLES["c4_clean"] = rf"""
WITH inj AS (
  SELECT doc_id,
         'This is a good sentence number ' || CAST(doc_id AS VARCHAR)
           || '.' || chr(10)
         || 'too short.' || chr(10)
         || 'no terminal punctuation here' || chr(10)
         || 'Another fine sentence for doc ' || CAST(doc_id AS VARCHAR)
           || '!' || chr(10)
         || 'Enable javascript to view this page.' || chr(10)
         || CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
                 ELSE 'A third sentence to pass the bar.' END || chr(10)
         || CASE WHEN doc_id % 11 = 0 THEN 'code {{ brace line'
                 ELSE 'The final sentence, number four.' END || chr(10)
         || CASE WHEN doc_id % 13 = 0 THEN 'ends with closing }} here.'
                 ELSE 'Sentence five is fine too.' END AS t
  FROM documents
),
l AS (
  SELECT doc_id, t,
         list_filter(list_transform(string_split(t, chr(10)),
                     x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                     x -> length(x) > 0) AS lines
  FROM inj
),
k AS (
  SELECT doc_id, t, lines,
         list_filter(lines, x ->
           regexp_matches(x, '[.!?]["”’]?$|["”’]$')
           AND len(regexp_split_to_array(x, '\s+')) >= 3
           AND NOT regexp_matches(lower(x), '\bjavascript\b')
         ) AS kept
  FROM l
)
SELECT doc_id,
       md5(array_to_string(kept, chr(10))) AS clean_md5,
       len(kept)::INT AS n_kept,
       (len(lines) - len(kept))::INT AS n_dropped,
       (NOT contains(lower(t), 'lorem ipsum')
        AND NOT regexp_matches(t, '[{{}}]')
        AND len(kept) >= {C4_MIN_KEPT}) AS c4_keep
FROM k
"""

_ORACLES["url_domains"] = r"""
WITH inj AS (
  SELECT doc_id,
         text || ' see https://Example'
              || CAST(((doc_id % 50) + 50) % 50 AS VARCHAR)
              || '.com/page?x=1 and http://sub.test-'
              || CAST(((doc_id % 7) + 7) % 7 AS VARCHAR)
              || '.org/path.' AS t
  FROM documents
),
u AS (
  SELECT doc_id,
         regexp_extract_all(t, 'https?://[^\s<>"]+') AS urls
  FROM inj
)
SELECT doc_id,
       len(urls)::INT AS n_urls,
       array_to_string(list_transform(urls,
         x -> lower(regexp_extract(x, '^https?://([^/:?#]+)', 1))),
         ',') AS domains
FROM u
"""


def _strip_html_sql(expr: str) -> str:
    """Nest the strip_html step table into a DuckDB regexp_replace
    chain. The patterns are shared with the Spark operator (they ARE
    the spec); the regex engines differ — RE2 here, Java there — so
    the hash check still cross-validates every pattern against both
    engines (the lang_id-oracle precedent)."""
    from bm25_chroma_spark.functions.web_clean import HTML_STRIP_STEPS

    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        rep_sql = (
            "chr(10)" if rep == "\n"
            else "'" + rep.replace("'", "''") + "'"
        )
        pat_sql = "'" + pat.replace("'", "''") + "'"
        out = f"regexp_replace({out}, {pat_sql}, {rep_sql}, 'g')"
    return out


_ORACLES["strip_html"] = (
    """
WITH inj AS (
  SELECT doc_id,
         '<!DOCTYPE html><html><head><title>Doc '
         || CAST(doc_id AS VARCHAR)
         || ' heading.</title><style type="text/css">body"""
    + """ { color: red; }</style>'
         || '<script>var x = 1 && 2; // <b>not bold</b></script>'
         || '</head><body><!-- hidden comment --><h1>Title '
         || CAST(doc_id AS VARCHAR)
         || ' stands here.</h1><p>First &amp; second &lt;tag&gt; '
         || '&quot;quoted&quot; words.</p><p>'
         || text
         || '</p><br>Line after break.&nbsp;Extra&#39;s done.'
         || '</body></html>' AS t
  FROM documents
),
s AS (SELECT doc_id, """
    + _strip_html_sql("t")
    + """ AS st FROM inj)
SELECT doc_id, md5(st) AS strip_md5, length(st)::INT AS strip_len
FROM s
"""
)

_ORACLES["blocked_domains"] = (
    r"""
WITH inj AS (
  SELECT doc_id,
         text || ' see https://Example'
              || CAST(((doc_id % 50) + 50) % 50 AS VARCHAR)
              || '.com/page?x=1 and http://sub.test-'
              || CAST(((doc_id % 7) + 7) % 7 AS VARCHAR)
              || '.org/path.' AS t
  FROM documents
),
u AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(t, 'https?://[^\s<>"]+'),
           x -> lower(regexp_extract(x, '^https?://([^/:?#]+)', 1)))
           AS doms
  FROM inj
),
bl(domain) AS (VALUES """
    + ", ".join(f"('{d.lower()}')" for d in BLOCKLIST_FIXTURE)
    + """),
ex AS (SELECT doc_id, unnest(doms) AS d FROM u),
hits AS (
  SELECT ex.doc_id, min(ex.d) AS bd
  FROM ex JOIN bl ON ex.d = bl.domain
  GROUP BY ex.doc_id
)
SELECT u.doc_id,
       (h.bd IS NOT NULL) AS domain_blocked,
       coalesce(h.bd, '') AS blocked_domain
FROM u LEFT JOIN hits h USING (doc_id)
"""
)


# span_dedup: independent DuckDB implementation — shingles from list
# primitives, df over DISTINCT (doc, gram), covered = union of
# per-hit index ranges, rebuild via string_agg over uncovered
# original-case tokens. Unaffected docs hash their RAW text.
_ORACLES["span_dedup"] = rf"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SPAN_MOD} = 0
              THEN text || ' {SPAN_BOILER}' ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS wo,
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w,
         regexp_matches(text, '^\s*$') AS blank
  FROM docs2
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[i:i+{SPAN_TOKENS - 1}], ' ') AS gram
  FROM (SELECT doc_id, unnest(range(1, len(w) - {SPAN_TOKENS} + 2)) AS i, w
        FROM toks WHERE NOT blank AND len(w) >= {SPAN_TOKENS})
),
rep AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
  GROUP BY gram HAVING count(*) >= 2
),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (gram)),
covered AS (
  SELECT DISTINCT doc_id, pos + o AS idx
  FROM (SELECT doc_id, pos, unnest(range(0, {SPAN_TOKENS})) AS o FROM hits)
),
nrem AS (SELECT doc_id, count(*) AS n FROM covered GROUP BY doc_id),
tokrows AS (
  SELECT doc_id, i - 1 AS idx, wo[i] AS tok
  FROM (SELECT doc_id, unnest(range(1, len(wo) + 1)) AS i, wo FROM toks)
),
kept AS (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.idx) AS clean
  FROM tokrows t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       md5(CASE WHEN n.n IS NULL THEN d.text
                ELSE coalesce(k.clean, '') END) AS clean_md5,
       coalesce(n.n, 0)::INT AS n_removed
FROM docs2 d
LEFT JOIN nrem n USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


_ORACLES["span_dedup_fast"] = _ORACLES["span_dedup"]


_ORACLES["doc_chunks"] = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w
  FROM documents WHERE NOT regexp_matches(text, '^\s*$')
),
c AS (
  SELECT doc_id,
         unnest(range(0, cast(ceil(len(w) / {CHUNK_MAX}.0) AS INT)))
           AS chunk_idx,
         w
  FROM toks
)
SELECT doc_id,
       chunk_idx::INT AS chunk_idx,
       len(w[chunk_idx * {CHUNK_MAX} + 1
             : chunk_idx * {CHUNK_MAX} + {CHUNK_MAX}])::INT AS n_tokens,
       array_to_string(
         w[chunk_idx * {CHUNK_MAX} + 1
           : chunk_idx * {CHUNK_MAX} + {CHUNK_MAX}], ' ') AS chunk_text
FROM c
"""


def _pii_oracle() -> str:
    from bm25_chroma_spark.functions.text_analysis import PII_PATTERNS

    pats = {name: (pat, repl) for name, pat, repl in PII_PATTERNS}
    email_re, email_sub = pats["email"]
    ip_re, ip_sub = pats["ip"]
    phone_re, phone_sub = pats["phone"]
    # pmod mirror: DuckDB % is sign-preserving, double-mod matches
    # Spark's F.pmod for any id sign.
    return f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ip 10.1.2.'
              || CAST(((doc_id % 250) + 250) % 250 AS VARCHAR)
              || ' call +1 (555) 010-'
              || lpad(CAST(((doc_id % 10000) + 10000) % 10000
                           AS VARCHAR), 4, '0') AS t
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{email_re}')) AS n_email,
         regexp_replace(t, '{email_re}', '{email_sub}', 'g') AS t1
  FROM inj
),
s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '{ip_re}')) AS n_ip,
         regexp_replace(t1, '{ip_re}', '{ip_sub}', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ip,
         len(regexp_extract_all(t2, '{phone_re}')) AS n_phone,
         regexp_replace(t2, '{phone_re}', '{phone_sub}', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_email::INT AS n_email, n_ip::INT AS n_ip,
       n_phone::INT AS n_phone, md5(t3) AS red_md5
FROM s3
"""


_ORACLES["pii_redact"] = _pii_oracle()


def _hash_split_oracle() -> str:
    from bm25_chroma_spark.functions.splits import split_thresholds

    ts = split_thresholds(SPLIT_WEIGHTS)
    whens = " ".join(
        f"WHEN h < '{bound}' THEN '{name}'" for name, bound in ts[:-1]
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || '{SPLIT_SALT}') AS h
  FROM documents
)
SELECT doc_id,
       CASE {whens} ELSE '{ts[-1][0]}' END AS split,
       h
FROM d
"""


_ORACLES["hash_split"] = _hash_split_oracle()


def _mix_sample_oracle() -> str:
    from bm25_chroma_spark.functions.splits import fraction_bound

    whens = " ".join(
        f"WHEN lang = '{g}' THEN h < '{fraction_bound(r)}'"
        for g, r in MIX_RATES.items()
    )
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         md5(CAST(doc_id AS VARCHAR) || '{MIX_SALT}') AS h
  FROM documents
)
SELECT doc_id, lang,
       CASE {whens} ELSE h < '{fraction_bound(MIX_DEFAULT)}' END AS keep
FROM d
"""


_ORACLES["mix_sample"] = _mix_sample_oracle()

def _shard_manifest_oracle() -> str:
    from bm25_chroma_spark.operators.sharding import shard_sql_expr

    return f"""
WITH a AS (
  SELECT doc_id, n_chars,
         {shard_sql_expr("doc_id", N_SHARDS, SHARD_SALT)} AS shard_id
  FROM documents
)
SELECT shard_id, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM a GROUP BY shard_id
"""


_ORACLES["shard_manifest"] = _shard_manifest_oracle()

# Stupid-Backoff bigram LM: counts, one-threshold pruning (a bigram
# kept at min_count implies both its words are kept, so the SQL can
# skip an explicit vocab semi-join), per-token score, per-doc avg ln.
# ln on identical doubles agrees across engines to ulp; the avg is
# rounded before hashing per the house float contract.
_ORACLES["lm_score"] = rf"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^\s*$')
),
tok AS (SELECT doc_id, unnest(w) AS term FROM w),
uni_all AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c)::DOUBLE AS n FROM uni_all),
uni AS (SELECT * FROM uni_all WHERE c >= {LM_MIN_COUNT}),
p AS (
  SELECT doc_id, len(w)::INT AS n_toks, unnest(range(1, len(w) + 1)) AS i, w
  FROM w
),
pt AS (
  SELECT doc_id, n_toks, i,
         CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS w1,
         w[i] AS w2
  FROM p
),
big AS (
  SELECT w1, w2, count(*)::BIGINT AS c
  FROM pt WHERE w1 IS NOT NULL
  GROUP BY w1, w2 HAVING count(*) >= {LM_MIN_COUNT}
),
sc AS (
  SELECT pt.doc_id, pt.n_toks,
         CASE
           WHEN pt.w1 IS NULL
             THEN coalesce(u2.c / t.n, {LM_ALPHA} / t.n)
           WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
             THEN b.c::DOUBLE / u1.c::DOUBLE
           ELSE {LM_ALPHA} * coalesce(u2.c / t.n, {LM_ALPHA} / t.n)
         END AS s
  FROM pt
  LEFT JOIN big b ON b.w1 = pt.w1 AND b.w2 = pt.w2
  LEFT JOIN uni u1 ON u1.term = pt.w1
  LEFT JOIN uni u2 ON u2.term = pt.w2
  CROSS JOIN tot t
)
SELECT doc_id, any_value(n_toks)::INT AS n_tokens,
       round(avg(ln(s)), {ROUND}) + 0.0 AS avg_logprob
FROM sc GROUP BY doc_id
UNION ALL
SELECT doc_id, 0::INT AS n_tokens, NULL::DOUBLE AS avg_logprob
FROM documents
WHERE text IS NULL OR regexp_matches(text, '^\s*$')
"""


def _nb_quality_oracle() -> str:
    """Independent DuckDB Naive Bayes: same label rule, tokenization,
    Laplace arithmetic, and pre-prune denominators as
    operators/quality_clf.py (per-token ln agrees to ulp across
    engines; round-after-avg kills summation-order drift — the same
    contract the hash-green lm_score entry validates)."""
    curated = ", ".join(f"'{s}'" for s in NB_CURATED_SOURCES)
    return rf"""
WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN source IN ({curated}) THEN 1 ELSE 0 END AS y
  FROM documents
),
w AS (
  SELECT doc_id, y,
         regexp_split_to_array(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w
  FROM lab
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^\s*$')
),
tok AS (SELECT doc_id, y, unnest(w) AS term FROM w),
cnt_all AS (
  SELECT term, sum(y)::BIGINT AS pc, sum(1 - y)::BIGINT AS nc
  FROM tok GROUP BY term
),
tot AS (
  SELECT sum(pc)::DOUBLE AS pt, sum(nc)::DOUBLE AS nt,
         count(*)::DOUBLE AS v
  FROM cnt_all
),
cnt AS (SELECT * FROM cnt_all WHERE pc + nc >= {NB_MIN_COUNT}),
sc AS (
  SELECT tok.doc_id,
         ln((coalesce(c.pc, 0) + 1.0) / (t.pt + t.v))
           - ln((coalesce(c.nc, 0) + 1.0) / (t.nt + t.v)) AS llr
  FROM tok LEFT JOIN cnt c ON c.term = tok.term CROSS JOIN tot t
)
SELECT doc_id, count(*)::INT AS n_tokens,
       round(avg(llr), {ROUND}) + 0.0 AS quality_logodds
FROM sc GROUP BY doc_id
UNION ALL
SELECT doc_id, 0::INT AS n_tokens, NULL::DOUBLE AS quality_logodds
FROM documents
WHERE text IS NULL OR regexp_matches(text, '^\s*$')
"""


_ORACLES["nb_quality"] = _nb_quality_oracle()


def _knn_oracle() -> str:
    qsel = ", ".join(str(i) for i in KNN_QUERY_IDS)
    case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(KNN_QUERY_IDS)
    )
    return f"""
WITH q AS (
  SELECT (CASE vec_id {case} END)::BIGINT AS query_id,
         embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id IN ({qsel})
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(1.0 - list_dot_product(e.embedding::DOUBLE[], q.qvec)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qvec, q.qvec))), {ROUND})
           + 0.0 AS dist
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
         )::INT AS rank
  FROM scored
)
SELECT query_id, vec_id, dist, rank FROM ranked WHERE rank <= {KNN_K}
"""


_ORACLES["knn_topk"] = _knn_oracle()


# the embeddings fixture is 64-dim at every SF; the trained-IVF
# oracle's per-dimension sum aggregates are generated against this
# (the Spark side stays dim-agnostic)
EMB_DIM = 64


def _ivf_oracle(round_centroids: bool = False, trained_iters: int = 0) -> str:
    """IVF mirrored in SQL: same medoid-seed centroids (the IVF_CELLS
    smallest-id vectors), same (dist asc, cid asc) cell assignment,
    same IVF_NPROBE query-side probing, same round-before-rank rerank.
    Distances use list_dot_product (left fold) exactly like the Spark
    side's F.aggregate, so assignments tie-break identically.

    With ``round_centroids`` the centroid vectors are rounded to
    ``ROUND`` decimals element-wise (+0.0 to kill IEEE -0.0) — this
    mirrors ann_ivf_trained0's trained-quantizer contract, where the
    Spark side publishes ``ivf_train_centroids(..., n_iters=0)``
    output through the same rounding (DuckDB round == Python round
    verified over every fixture value at all three SFs).

    With ``trained_iters`` > 0 the quantizer is the fully TRAINED one:
    Lloyd's iterations unrolled as chained CTEs (assignment = the same
    argmin; update = per-dimension SUM / COUNT per cell, empty cells
    keeping their previous centroid via LEFT JOIN), final centroids
    rounded to ROUND decimals exactly like q_ann_ivf_trained's
    round(x, 6) guard. Float hazard note (VERDICT-r7 #5): the trainer
    merges per-partition partial sums sorted by partition id, DuckDB
    sums in scan order — measured BIT-IDENTICAL raw centroid doubles
    (max |diff| 0.0) and zero post-round mismatches at all three SFs
    (scripts/probe docs in BENCH/r8_notes.md); the 1e-6 rounding on
    both sides absorbs any future last-ulp reassociation."""
    qsel = ", ".join(str(i) for i in KNN_QUERY_IDS)
    case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(KNN_QUERY_IDS)
    )

    def dist(a: str, b: str) -> str:
        return (
            f"1.0 - list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    cvec_expr = "embedding::DOUBLE[]"
    if round_centroids:
        cvec_expr = (
            f"list_transform(embedding::DOUBLE[],"
            f" x -> round(x, {ROUND}) + 0.0)"
        )

    if trained_iters:
        sums = ", ".join(
            f"sum(vec[{i + 1}])" for i in range(EMB_DIM)
        )
        iters = []
        prev = "c0"
        for it in range(1, trained_iters + 1):
            iters.append(f"""
a{it} AS (
  SELECT e.vec_id, e.vec, p.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {dist('e.vec', 'p.cvec')} ASC, p.cid ASC) AS rn
  FROM e CROSS JOIN {prev} p
),
s{it} AS (
  SELECT cid AS cell, count(*) AS n, list_value({sums}) AS sums
  FROM (SELECT vec_id, vec, cid FROM a{it} WHERE rn = 1)
  GROUP BY cell
),
c{it} AS (
  SELECT p.cid,
         CASE WHEN s{it}.n > 0
              THEN list_transform(s{it}.sums,
                                  x -> x / CAST(s{it}.n AS DOUBLE))
              ELSE p.cvec END AS cvec
  FROM {prev} p LEFT JOIN s{it} ON p.cid = s{it}.cell
),""")
            prev = f"c{it}"
        head = f"""
WITH c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {IVF_CELLS})
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
{"".join(iters)}
c AS (
  SELECT cid, list_transform(cvec, x -> round(x, {ROUND}) + 0.0)
           AS cvec
  FROM {prev}
),
ec AS ("""
    else:
        head = f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         {cvec_expr} AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {IVF_CELLS})
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
ec AS ("""
    return head + f"""
  SELECT vec_id, vec, cid,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {dist('vec', 'cvec')} ASC, cid ASC
         ) AS rn
  FROM e CROSS JOIN c
),
cells AS (SELECT vec_id, vec, cid AS cell FROM ec WHERE rn = 1),
q AS (
  SELECT (CASE vec_id {case} END)::BIGINT AS query_id,
         embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id IN ({qsel})
),
qc AS (
  SELECT query_id, qvec, cid,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {dist('qvec', 'cvec')} ASC, cid ASC
         ) AS rn
  FROM q CROSS JOIN c
),
probes AS (
  SELECT query_id, qvec, cid AS cell FROM qc WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, s.vec_id,
         round({dist('s.vec', 'p.qvec')}, {ROUND}) + 0.0 AS dist
  FROM cells s JOIN probes p ON s.cell = p.cell
),
ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
         )::INT AS rank
  FROM scored
)
SELECT query_id, vec_id, dist, rank FROM ranked WHERE rank <= {KNN_K}
"""


_ORACLES["ann_ivf"] = _ivf_oracle()
_ORACLES["ann_ivf_trained0"] = _ivf_oracle(round_centroids=True)
_ORACLES["ann_ivf_trained"] = _ivf_oracle(trained_iters=2)
# the materialized-store path computes probes through the same expr
# arithmetic at this quantizer size (knn_ivf_partitioned probe_method
# "auto" -> _expr_probes), so the identical IVF mirror applies
_ORACLES["ann_ivf_partitioned"] = _ivf_oracle()

_ORACLES["embedding_dups"] = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                  a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]))),
         {ROUND}) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                               a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]))) >= 0.5
"""


def _lsh_embed_oracle() -> str:
    """Hyperplane-LSH embedding dedup mirrored in SQL: the Gaussian
    planes (deterministic, seed-derived) are inlined as literals; the
    per-table bit signatures, bucket self-joins, candidate union and
    exact-cosine threshold reproduce embedding_near_dups(use_lsh=True)
    exactly."""
    from bm25_chroma_spark.operators.knn import hyperplanes

    def sql_vec(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"]
    pair_sels = []
    for t in range(LSH_EMB_TABLES):
        planes = hyperplanes(
            LSH_EMB_DIM, LSH_EMB_PLANES, seed=LSH_EMB_SEED + 1000 * t
        )
        bits = "\n      + ".join(
            f"(CASE WHEN list_dot_product(vec, {sql_vec(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        ctes.append(
            f"s{t} AS (SELECT vec_id, {bits} AS sig FROM e)"
        )
        pair_sels.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM s{t} a "
            f"JOIN s{t} b ON a.sig = b.sig AND a.vec_id < b.vec_id"
        )
    union = "\n  UNION\n  ".join(pair_sels)
    cte_sql = ",\n".join(ctes)
    return f"""
WITH {cte_sql},
cand AS (
  {union}
),
j AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec))
              * sqrt(list_dot_product(b.vec, b.vec))) AS cos
  FROM cand c
  JOIN e a ON a.vec_id = c.id_a
  JOIN e b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cos, {ROUND}) AS cosine FROM j WHERE cos >= 0.5
"""


_ORACLES["embedding_dups_lsh"] = _lsh_embed_oracle()


def _ann_lsh_oracle() -> str:
    """knn_lsh mirrored in SQL: per-table bit signatures over inlined
    hyperplanes for corpus AND queries, query-side multiprobe (own
    bucket + single-bit flips), bucket equi-joins unioned across
    tables, exact cosine re-rank (rounded before ranking, -0.0
    canonicalized) on the candidate set."""
    from bm25_chroma_spark.operators.knn import hyperplanes

    def sql_vec(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    qsel = ", ".join(str(i) for i in KNN_QUERY_IDS)
    case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(KNN_QUERY_IDS)
    )
    masks = [0] + [1 << i for i in range(LSH_EMB_PLANES)]
    masks_sql = "[" + ", ".join(str(m) for m in masks) + "]"

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)",
        f"""q AS (SELECT (CASE vec_id {case} END)::BIGINT AS query_id,
             embedding::DOUBLE[] AS qvec
      FROM embeddings WHERE vec_id IN ({qsel}))""",
    ]
    pair_sels = []
    for t in range(LSH_EMB_TABLES):
        planes = hyperplanes(
            LSH_EMB_DIM, LSH_EMB_PLANES, seed=LSH_EMB_SEED + 1000 * t
        )
        ebits = "\n      + ".join(
            f"(CASE WHEN list_dot_product(vec, {sql_vec(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        qbits = "\n      + ".join(
            f"(CASE WHEN list_dot_product(qvec, {sql_vec(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        ctes.append(f"se{t} AS (SELECT vec_id, {ebits} AS sig FROM e)")
        ctes.append(
            f"sq{t} AS (SELECT query_id, xor(({qbits})::BIGINT, m.m) "
            f"AS psig FROM q CROSS JOIN (SELECT unnest({masks_sql}) "
            f"AS m) m)"
        )
        pair_sels.append(
            f"SELECT p.query_id, c.vec_id FROM se{t} c "
            f"JOIN sq{t} p ON c.sig = p.psig"
        )
    union = "\n  UNION\n  ".join(pair_sels)
    cte_sql = ",\n".join(ctes)
    return f"""
WITH {cte_sql},
cand AS (
  {union}
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(1.0 - list_dot_product(e.vec, q.qvec)
           / (sqrt(list_dot_product(e.vec, e.vec))
              * sqrt(list_dot_product(q.qvec, q.qvec))), {ROUND})
           + 0.0 AS dist
  FROM cand
  JOIN e ON e.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
),
ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
         )::INT AS rank
  FROM scored
)
SELECT query_id, vec_id, dist, rank FROM ranked WHERE rank <= {KNN_K}
"""


_ORACLES["ann_lsh"] = _ann_lsh_oracle()


def _rrf_oracle() -> str:
    knn = _knn_oracle().replace(f"rank <= {KNN_K}", "rank <= 20")
    bm25 = _bm25_oracle().replace(
        f"rank <= {TOP_K}", "rank <= 20"
    )
    return f"""
WITH bm25_leg AS (
  SELECT * FROM ({bm25}) WHERE query_id IN (1, 2)
),
knn_leg AS (
  SELECT query_id + 1 AS query_id, vec_id AS doc_id, rank
  FROM ({knn})
),
parts AS (
  SELECT query_id, doc_id, 0.5 / (60 + rank) AS part FROM bm25_leg
  UNION ALL
  SELECT query_id, doc_id, 0.5 / (60 + rank) AS part FROM knn_leg
),
fused AS (
  SELECT query_id, doc_id, round(sum(part), 9) AS rrf_score
  FROM parts GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY rrf_score DESC, doc_id ASC
         )::INT AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank FROM ranked WHERE rank <= 10
"""


_ORACLES["rrf_hybrid"] = _rrf_oracle()


def _qdf_text_values_sql() -> str:
    return ", ".join(
        "({}, '{}')".format(qid, text.replace("'", "''"))
        for qid, text in FLAGSHIP_QUERIES
    )


def _query_df_oracle() -> str:
    """Full facade mirror for q_query_df_hybrid: BM25 leg (reference
    tokenizer + Solr-normed BM25, rounded-before-rank, widened to
    2*TOP_K), hashed-BoW KNN leg (sha256 feature hashing — the same
    sha256-hex arithmetic the hash-green embed_corpus oracle uses —
    cosine over the sparse dims, rounded-before-rank), RRF(0.5/0.5,
    k=60) over leg ranks with the doc_uid STRING tie-break, top
    TOP_K. Internal ids mirror because the entry pins
    doc_id_expr = cast(doc_uid as long)."""
    E = 2 * TOP_K
    hexp = "strpos('0123456789abcdef', substr(sha256(tok), {}, 1)) - 1"
    dim_expr = f"((16 * ({hexp.format(7)}) + ({hexp.format(8)})) % 64)"
    sign_expr = (
        f"CASE WHEN ({hexp.format(10)}) % 2 = 1 THEN 1.0 ELSE -1.0 END"
    )
    return f"""
WITH {_SQL_DOCS}, {_SQL_TF},
dft AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM ne),
q(query_id, term, qtf) AS (VALUES {_query_values_sql()}),
bm25s AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln((s.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
           * (tf.tf * {K1 + 1.0}) /
             (tf.tf + {K1} * ({1.0 - B} + {B} * tf.dl / s.avgdl))
           / sqrt(tf.dl) * q.qtf
         ), {ROUND}) AS score
  FROM q JOIN dft USING (term) JOIN tf USING (term) CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
bm25_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rank
  FROM bm25s
),
bm25_leg AS (SELECT * FROM bm25_ranked WHERE rank <= {E}),
qt(query_id, qtext) AS (VALUES {_qdf_text_values_sql()}),
dtok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> length(t) > 0)) AS tok
  FROM documents
),
qtok AS (
  SELECT query_id,
         unnest(list_filter(string_split_regex(lower(qtext), '\\s+'),
                            t -> length(t) > 0)) AS tok
  FROM qt
),
dh AS (SELECT doc_id, {dim_expr} AS dim, {sign_expr} AS sign FROM dtok),
qh AS (SELECT query_id, {dim_expr} AS dim, {sign_expr} AS sign FROM qtok),
ds AS (SELECT doc_id, dim, sum(sign) AS s FROM dh GROUP BY doc_id, dim
       HAVING sum(sign) != 0),
qs AS (SELECT query_id, dim, sum(sign) AS s FROM qh GROUP BY query_id, dim
       HAVING sum(sign) != 0),
dn AS (SELECT doc_id, sqrt(sum(s * s)) AS nrm FROM ds GROUP BY doc_id),
qn AS (SELECT query_id, sqrt(sum(s * s)) AS nrm FROM qs GROUP BY query_id),
dv AS (SELECT ds.doc_id, dim, s / nrm AS v FROM ds JOIN dn USING (doc_id)),
qv AS (SELECT qs.query_id, dim, s / nrm AS v
       FROM qs JOIN qn USING (query_id)),
dvn AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm2 FROM dv GROUP BY doc_id),
qvn AS (SELECT query_id, sqrt(sum(v * v)) AS nrm2 FROM qv GROUP BY query_id),
dots AS (
  SELECT dv.doc_id, qv.query_id, sum(dv.v * qv.v) AS dot
  FROM dv JOIN qv USING (dim) GROUP BY dv.doc_id, qv.query_id
),
pairs AS (
  SELECT d.doc_id, qq.query_id FROM documents d CROSS JOIN qt qq
),
dist AS (
  SELECT p.query_id, p.doc_id,
         round(1.0 - coalesce(t.dot, 0.0) / (dvn.nrm2 * qvn.nrm2),
               {ROUND}) AS dist
  FROM pairs p
  JOIN dvn USING (doc_id)
  JOIN qvn USING (query_id)
  LEFT JOIN dots t
    ON t.doc_id = p.doc_id AND t.query_id = p.query_id
),
knn_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY dist ASC, doc_id ASC
         ) AS rank
  FROM dist
),
knn_leg AS (SELECT * FROM knn_ranked WHERE rank <= {E}),
parts AS (
  SELECT query_id, doc_id, 0.5 / (60.0 + rank) AS part FROM bm25_leg
  UNION ALL
  SELECT query_id, doc_id, 0.5 / (60.0 + rank) AS part FROM knn_leg
),
fused AS (
  SELECT query_id, doc_id, sum(part) AS rrf
  FROM parts GROUP BY query_id, doc_id
),
rankedf AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY rrf DESC, CAST(doc_id AS VARCHAR) ASC
         )::INT AS rank
  FROM fused
)
SELECT query_id, CAST(doc_id AS VARCHAR) AS doc_uid,
       round(rrf, {ROUND}) + 0.0 AS score, rank
FROM rankedf WHERE rank <= {TOP_K}
"""


_ORACLES["query_df_hybrid"] = _query_df_oracle()


def q_embed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed corpus embedding (operators/embed.py): the hashed
    bag-of-words projection runs inside mapInPandas on the executors
    — the DataFrame-native ingest step the reference's driver-side
    batch embed (hybrid_retriever.py:104-140) cannot scale to. The
    embedder is pinned to hashed_bow (not the probe default) so the
    oracle stays stable even where sentence-transformers exists.

    Output is the exploded sparse form (doc_id, dim, val) of the
    L2-normalized signed-BoW vector, nonzero dims only, rounded to 6
    decimals — every hash/sign/normalize step is mirrored exactly in
    the SQL oracle (sha256 hex arithmetic: dim = first-4-bytes % 64
    reduces to hex chars 7-8 % 64; sign = parity of hex char 10)."""
    from bm25_chroma_spark.operators.embed import embed_corpus
    from bm25_chroma_spark.plans.retriever import hashed_bow_embedder

    docs = _load_docs(spark, sf_dir).select("doc_id", "text")
    emb = embed_corpus(docs, embed_fn=hashed_bow_embedder)
    return (
        emb.select(
            "doc_id", F.posexplode("embedding").alias("dim", "v")
        )
        .filter(F.col("v") != 0.0)
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            (F.round("v", ROUND) + F.lit(0.0)).alias("val"),
        )
    )


_ORACLES["embed_corpus"] = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> length(t) > 0)) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         ((16 * (strpos('0123456789abcdef', substr(sha256(tok), 7, 1)) - 1)
             + (strpos('0123456789abcdef', substr(sha256(tok), 8, 1)) - 1))
          % 64) AS dim,
         CASE WHEN (strpos('0123456789abcdef',
                           substr(sha256(tok), 10, 1)) - 1) % 2 = 1
              THEN 1.0 ELSE -1.0 END AS sign
  FROM toks
),
sums AS (
  SELECT doc_id, dim, sum(sign) AS s
  FROM hashed GROUP BY doc_id, dim
  HAVING sum(sign) != 0
),
norms AS (
  SELECT doc_id, sqrt(sum(s * s)) AS nrm FROM sums GROUP BY doc_id
)
SELECT sums.doc_id, dim::INT AS dim, round(s / nrm, 6) + 0.0 AS val
FROM sums JOIN norms ON sums.doc_id = norms.doc_id
"""


# ----------------------------------------------------------------- #
# relational showcase (general analytics over the TPC-H-ish tables)  #
# ----------------------------------------------------------------- #

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation over lineitem: partial+final hash
    agg, whole-stage codegen, no UDFs."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join chain with a broadcast dimension: customer -> nation,
    orders aggregated per nation."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("order_cnt"),
        )
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events table (the batch
    form of the streaming operator)."""
    from bm25_chroma_spark.streaming.ingest import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(ev, window="10 minutes")


_ORACLES["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

_ORACLES["revenue_by_nation"] = """
SELECT n.n_name AS nation,
       round(sum(o.o_totalprice), 2) AS revenue,
       count(*)::BIGINT AS order_cnt
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

_ORACLES["event_windows"] = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       event_type AS key,
       count(*)::BIGINT AS n,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
"""


def spark_queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # BM25 / index family
        "doc_uid": q_doc_uid,
        "doc_lengths": q_doc_lengths,
        "corpus_stats": q_corpus_stats,
        "term_df": q_term_df,
        "term_idf": q_term_idf,
        "term_tf": q_term_tf,
        "postings_rank": q_postings_rank,
        "bm25_topk": q_bm25_topk,
        # training-data pipeline family
        "dedup_exact": q_dedup_exact,
        "minhash_sigs": q_minhash_sigs,
        "jaccard_pairs": q_jaccard_pairs,
        "lsh_candidates": q_lsh_candidates,
        "simhash_dups": q_simhash_dups,
        "dup_clusters": q_dup_clusters,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "fingerprint": q_fingerprint,
        "seq_packing": q_seq_packing,
        "rep_signals": q_rep_signals,
        "decontam": q_decontam,
        "hash_split": q_hash_split,
        "mix_sample": q_mix_sample,
        "lm_score": q_lm_score,
        "nb_quality": q_nb_quality,
        "shard_manifest": q_shard_manifest,
        "doc_chunks": q_doc_chunks,
        "span_dedup": q_span_dedup,
        "span_dedup_fast": q_span_dedup_fast,
        "pii_redact": q_pii_redact,
        "c4_clean": q_c4_clean,
        "url_domains": q_url_domains,
        "strip_html": q_strip_html,
        "blocked_domains": q_blocked_domains,
        # vector family
        "embed_corpus": q_embed_corpus,
        "knn_topk": q_knn_topk,
        "embedding_dups": q_embedding_dups,
        "embedding_dups_lsh": q_embedding_dups_lsh,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_trained": q_ann_ivf_trained,
        "ann_ivf_trained0": q_ann_ivf_trained0,
        "ann_ivf_partitioned": q_ann_ivf_partitioned,
        "rrf_hybrid": q_rrf_hybrid,
        "query_df_hybrid": q_query_df_hybrid,
        # relational showcase
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "event_windows": q_event_windows,
    }


def oracle_queries() -> Dict[str, str]:
    return dict(_ORACLES)

"""The benchmark's workloads. Each is one closed-loop client in the
benchmark process that sends its next operation only after the
previous one returned.

* ``interactive`` — a fixed stream of facade ``query()`` calls against
  an ingested state: two in three repeat an earlier query (the
  driver-resident caches serve it), the others bring a term no earlier
  query used. Fresh and repeated queries are reported apart, so no
  chosen mix decides a metric.
* ``offline`` — one pass of the batch pipeline over a materialized
  corpus: SimHash, repeated-span removal, LM train+score, a fresh
  facade ingest (sharded build), a ``query_df`` evaluation batch, and a
  DML batch plus compaction on the new index.

A workload returns nothing; it records metrics, correctness failures
and failed operations on the ``Context``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, Dict, List, Optional

from perfbench import harness, inputs
from perfbench.trace import TracedEmbedder, Tracer

# library functions wrapped in traced runs: (module, attribute where
# the caller looks the name up, span name)
LAYER_WRAPS = [
    ("bm25_chroma_spark.plans.retriever", "SparkHybridRetriever.query",
     "plans.retriever.query"),
    ("bm25_chroma_spark.plans.retriever",
     "SparkHybridRetriever.add_documents_batch",
     "plans.retriever.add_documents_batch"),
    ("bm25_chroma_spark.plans.retriever",
     "SparkHybridRetriever.add_documents_df",
     "plans.retriever.add_documents_df"),
    ("bm25_chroma_spark.plans.retriever", "search_sharded",
     "index.wand.search_sharded"),
    ("bm25_chroma_spark.plans.retriever", "rrf_fuse_py",
     "operators.fusion.rrf_fuse_py"),
    ("bm25_chroma_spark.plans.retriever", "build_sharded_index",
     "index.shards.build_sharded_index"),
    ("bm25_chroma_spark.index.shards", "ShardedIndex.postings_rows",
     "index.shards.postings_rows"),
    ("bm25_chroma_spark.index.dml", "apply_dml", "index.dml.apply_dml"),
    ("bm25_chroma_spark.index.dml", "compact_index",
     "index.dml.compact_index"),
    ("bm25_chroma_spark.functions.tokenizer", "tokenize_py",
     "functions.tokenizer.tokenize_py"),
    ("bm25_chroma_spark.operators.knn", "knn_bruteforce",
     "operators.knn.knn_bruteforce"),
]
# driver-side decodes: counted, not spanned. Only ``varint_decode``,
# one call per column (doc deltas, tfs, dls) of a block: ``index.wand``
# calls its own binding, and ``decode_all`` / ``decode_block`` call it
# through ``index.encode``'s module global, so each decode counts once
DECODE_COUNTS = [
    ("bm25_chroma_spark.index.wand", "varint_decode"),
    ("bm25_chroma_spark.index.encode", "varint_decode"),
]
DECODE = "index.encode.decode_calls"


class Context:
    """One run: the session, its seed and time budget, the optional
    tracer, the host sampler, and what the workload reports."""

    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 tracer: Optional[Tracer], t_start: float, session_s: float,
                 sampler: harness.HostSampler):
        self.spark = spark
        self.sampler = sampler
        self.t_start = t_start
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.session_s = session_s
        self.counter = harness.SparkCounter(spark.sparkContext)
        self.failures: List[str] = []
        self.errors: List[str] = []
        self.attempted = 0
        self.e2e: Dict[str, tuple] = {}
        self.extra: Dict[str, tuple] = {}
        self.layer: Dict[str, tuple] = {}
        self.digest_parts: List = []
        # traced runs: key -> [(jobs, stages)] per block (Context.jobs)
        self.job_stats: Dict[str, List[tuple]] = defaultdict(list)
        # the timed ops (run_ops) and, in traced runs, their Spark and
        # counter totals
        self.op_name = ""
        self.recs: List[dict] = []
        self.op_ms: List[float] = []
        self.timed: Dict[str, float] = {}

    # -------------------------------------------------------------- #

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.append(msg)

    def put(self, table: dict, name: str, value: float, unit: str) -> None:
        harness.check_metric(name, unit)
        table[name] = (float(value), unit)

    def at_reference(self, name: str, value: float, unit: str,
                     t0: float, t1: float, rate: bool = False) -> float:
        """``value``, measured over [t0, t1], at the reference host
        speed: a duration is divided by the host's slowness over that
        interval, a rate multiplied by it. The measured value prints as
        ``raw.<name>``."""
        self.put(self.extra, f"raw.{name}", value, unit)
        k = self.sampler.slowness(t0, t1)
        return value * k if rate else value / k

    def median_at_reference(self, name: str, recs: List[dict]) -> float:
        """Median latency of ``recs`` at the reference host speed, each
        op divided by the host's slowness while it ran. The measured
        median prints as ``raw.<name>``."""
        self.put(self.extra, f"raw.{name}",
                 _median([r["ms"] for r in recs]), "ms")
        return _median([r["ms"] / self.sampler.slowness(r["t0"], r["t1"])
                        for r in recs])

    @contextmanager
    def stage(self, name: str):
        """A span from the benchmark's own code around one call into a
        layer (and the action that runs it)."""
        if self.tracer is None:
            yield
            return
        with self.tracer.span(name):
            yield

    @contextmanager
    def jobs(self, key: str):
        """Traced runs: record (jobs, stages) the block launched under
        ``key``."""
        if self.tracer is None:
            yield
            return
        j0 = self.counter.last_job_id()
        yield
        j1 = self.counter.last_job_id()
        stages, _ = self.counter.stages_and_failures(j0 + 1, j1)
        self.job_stats[key].append((j1 - j0, stages))

    def run_ops(self, name: str, op: Callable[[int], None], max_ops: int,
                deadline_s: float) -> List[dict]:
        """Closed loop: call ``op(i)`` until ``deadline_s`` seconds have
        passed (at least once). A raised op is counted as failed and the
        loop goes on."""
        recs = []
        tr = self.tracer
        if tr is not None:
            first_job = self.counter.last_job_id() + 1
            counts0 = dict(tr.counts)
            cpu0 = time.process_time()
            tree0 = harness.tree_cpu_seconds(os.getpid())
        t_start = time.perf_counter()
        i = 0
        while i < max_ops and (
            i == 0 or time.perf_counter() - t_start < deadline_s
        ):
            if tr is not None:
                tr.op = i
                j0 = self.counter.last_job_id()
            t0 = time.perf_counter()
            ok = True
            try:
                if tr is not None:
                    with tr.span(name):
                        op(i)
                else:
                    op(i)
            except Exception:
                ok = False
                self.errors.append(traceback.format_exc())
            t1 = time.perf_counter()
            rec = {"ms": (t1 - t0) * 1e3, "ok": ok, "t0": t0, "t1": t1}
            if tr is not None:
                rec["jobs"] = self.counter.last_job_id() - j0
                tr.op = None
            recs.append(rec)
            self.attempted += 1
            i += 1
        self.op_name, self.recs = name, recs
        if tr is not None:
            stages, failed = self.counter.stages_and_failures(
                first_job, self.counter.last_job_id()
            )
            self.timed = {
                "stages": stages,
                "failed_tasks": failed,
                "driver_cpu_s": time.process_time() - cpu0,
                "tree_cpu_s": harness.tree_cpu_seconds(os.getpid()) - tree0,
            }
            for k, v in tr.counts.items():
                self.timed[k] = v - counts0.get(k, 0)
        return recs

    def digest(self) -> str:
        blob = json.dumps(self.digest_parts, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


def install_wraps(tracer: Tracer) -> None:
    for module, attr, name in LAYER_WRAPS:
        tracer.wrap(module, attr, name,
                    keep=name == "index.shards.build_sharded_index")
    for module, attr in DECODE_COUNTS:
        tracer.wrap(module, attr, DECODE, spans=False)


def _facade(ctx: Context, state: Path):
    from bm25_chroma_spark.plans.retriever import SparkHybridRetriever

    return SparkHybridRetriever(
        ctx.spark, str(state), embedding_function=TracedEmbedder(ctx.tracer)
    )


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _common_metrics(ctx: Context, recs: List[dict], elapsed_s: float,
                    op_ms: List[float], timings: Dict[str, tuple],
                    stored: float) -> None:
    """The end-to-end metrics every workload reports. ``op_ms``: the
    measured latencies of the successful timed ops that ``op_p50_ms``
    describes; ``timings``: name -> (value at the reference host
    speed, unit)."""
    ctx.op_ms = op_ms
    for name, (value, unit) in timings.items():
        ctx.put(ctx.e2e, name, value, unit)
    ctx.put(ctx.e2e, "stored_bytes_per_input_byte", stored, "ratio")
    ctx.put(ctx.e2e, "driver_peak_rss_mb", harness.driver_peak_rss_mb(),
            "MB")
    p90 = harness.tail_percentile(op_ms, 0.9)
    if p90 is not None:
        ctx.put(ctx.extra, "op_p90_ms", p90, "ms")
    ctx.put(ctx.extra, "ops", len(recs), "count")
    ctx.put(ctx.extra, "ops_per_s", len(recs) / elapsed_s, "1/s")
    ctx.put(ctx.extra, "error_rate",
            sum(not r["ok"] for r in recs) / max(1, len(recs)), "ratio")


# ------------------------------------------------------------------ #
# interactive                                                         #
# ------------------------------------------------------------------ #

INTERACTIVE_DOCS = 1000
WARM_QUERIES = 3
WARM_REPEATS = 30
RANK_SAMPLE = 5
# every FRESH_EVERY-th query brings an unseen anchor term, the others
# repeat an earlier one. Fresh and repeated queries are reported apart,
# so the share only sets how many samples of each a run holds: a repeat
# costs ~1/20 of a fresh query, and two repeats per fresh one give both
# medians enough samples in the time a run has
FRESH_EVERY = 3
# the timed stream: a fixed number of fresh queries, so every run's
# medians cover the same stream (fresh queries get faster over a run's
# first dozen as the JVM warms; a time-cut stream would hold fewer
# early ones on a fast host than on a slow one)
FRESH_QUERIES = 12


def interactive(ctx: Context) -> None:
    t_setup = time.perf_counter()
    docs = inputs.corpus(INTERACTIVE_DOCS, ctx.seed)
    texts = [t for _, t in docs]
    uids = [u for u, _ in docs]
    pool = inputs.query_pool(texts, ctx.seed)
    warm, rest = pool[:WARM_QUERIES], pool[WARM_QUERIES:]
    stream = inputs.query_stream(rest, FRESH_EVERY * FRESH_QUERIES,
                                 ctx.seed, fresh_every=FRESH_EVERY)

    state = ctx.work / "state"
    retr = _facade(ctx, state)
    t_ingest = time.perf_counter()
    with ctx.jobs("build"):
        retr.add_documents_batch(texts, uids)
    t_ingested = time.perf_counter()
    # warm-up with entries the timed stream never issues: their first
    # calls load the vector matrix and start the Python workers, the
    # repeats run the cached path until the JVM has compiled it
    for i in range(WARM_QUERIES + WARM_REPEATS):
        retr.query([warm[i % WARM_QUERIES]], n_results=10)
    t_ready = time.perf_counter()
    setup_s = ctx.session_s + t_ready - t_setup
    stored = harness.dir_bytes(state) / sum(len(t.encode()) for t in texts)

    def op(i: int) -> None:
        res = retr.query([stream[i]], n_results=10)
        ids = res["ids"][0]
        ctx.check(0 < len(ids) <= 10 and len(set(ids)) == len(ids),
                  f"query {stream[i]!r} returned {ids}")

    t0 = time.perf_counter()
    recs = ctx.run_ops("interactive.op", op, len(stream), ctx.seconds)
    elapsed = time.perf_counter() - t0
    n = len(recs)
    seen, fresh = set(warm), []
    for q in stream[:n]:
        fresh.append(q not in seen)
        seen.add(q)
    repeats = [r for r, f in zip(recs, fresh) if r["ok"] and not f]
    fresh_recs = [r for r, f in zip(recs, fresh) if r["ok"] and f]
    fresh_ms = [r["ms"] for r in fresh_recs]
    _common_metrics(ctx, recs, elapsed, [r["ms"] for r in repeats], {
        "setup_s": (ctx.at_reference("setup_s", setup_s, "s",
                                     ctx.t_start, t_ready), "s"),
        "op_p50_ms": (ctx.median_at_reference("op_p50_ms", repeats), "ms"),
        "cold_query_ms": (
            ctx.median_at_reference("cold_query_ms", fresh_recs), "ms"),
        "ingest_docs_per_s": (ctx.at_reference(
            "ingest_docs_per_s", INTERACTIVE_DOCS / (t_ingested - t_ingest),
            "1/s", t_ingest, t_ingested, rate=True), "1/s"),
    }, stored)
    p90 = harness.tail_percentile(fresh_ms, 0.9)
    if p90 is not None:
        ctx.put(ctx.extra, "cold_query_p90_ms", p90, "ms")
    ctx.put(ctx.extra, "cold_queries", len(fresh_ms), "count")
    repeat_share = 1 - sum(fresh) / n
    ctx.put(ctx.extra, "repeat_share", repeat_share, "ratio")
    if ctx.tracer is not None:
        ctx.put(ctx.layer, "repeat_share", repeat_share, "ratio")
        ctx.put(ctx.layer, "index.dml.generations",
                _generation(state / "index"), "count")
        ctx.put(ctx.layer, "operators.span_dedup.removed_spans", 0, "count")

    _check_rank_identity(ctx, retr, docs, pool[:RANK_SAMPLE])


def _check_rank_identity(ctx, retr, docs, sample: List[str]) -> None:
    """search_bm25 top-10 == logical JVM scorer top-10 over the same
    corpus, both re-ranked on scores rounded to 6 decimals (ties by
    doc_id), and the sample's query() results feed the digest."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bm25_chroma_spark.config import LOSSLESS_CONFIG
    from bm25_chroma_spark.operators import (
        bm25_score_queries,
        build_logical_index,
    )

    spark = ctx.spark
    ddf = spark.createDataFrame(
        pd.DataFrame({"doc_uid": [u for u, _ in docs],
                      "text": [t for _, t in docs]})
    ).select(F.xxhash64("doc_uid").alias("doc_id"), "doc_uid", "text")
    id_of = {r["doc_uid"]: r["doc_id"]
             for r in ddf.select("doc_uid", "doc_id").collect()}
    idx = build_logical_index(ddf.select("doc_id", "text"),
                              config=LOSSLESS_CONFIG)
    qdf = spark.createDataFrame(list(enumerate(sample)),
                                "query_id long, query_text string")
    logical = defaultdict(list)
    for r in bm25_score_queries(qdf, idx, top_k=20).collect():
        logical[r["query_id"]].append((round(r["score"], 6), r["doc_id"]))

    def top10(pairs):
        return [d for _, d in sorted(pairs, key=lambda p: (-p[0], p[1]))][
            :10
        ]

    for qid, q in enumerate(sample):
        sharded = [(round(s, 6), id_of[u])
                   for u, s in retr.search_bm25(q, top_k=20)]
        a, b = top10(sharded), top10(logical[qid])
        ctx.check(a == b, f"rank identity failed for {q!r}: {a} != {b}")
        res = retr.query([q], n_results=10)
        ctx.digest_parts.append(
            [q, res["ids"][0], [round(d, 6) for d in res["distances"][0]]]
        )


def _generation(index_dir: Path) -> int:
    """Live DML generation count, from the index's stats.json."""
    stats = json.loads((index_dir / "stats.json").read_text())
    return int(stats.get("generation", 0))


# ------------------------------------------------------------------ #
# offline                                                             #
# ------------------------------------------------------------------ #

OFFLINE_DOCS = 1000
EVAL_QUERIES = 50
DML_DOCS = 8


def offline(ctx: Context) -> None:
    from pyspark.sql import functions as F

    from bm25_chroma_spark.sources.corpus import synth_corpus

    spark = ctx.spark
    t_setup = time.perf_counter()
    src = ctx.work / "corpus.parquet"
    raw = synth_corpus(spark, OFFLINE_DOCS, seed=ctx.seed, partitions=4)
    planted = F.pmod(F.xxhash64("path"), F.lit(4)) == 0
    raw.select(
        F.col("path").alias("doc_uid"),
        F.xxhash64("path").alias("doc_id"),
        F.when(planted, F.concat_ws(" ", "content",
                                    F.lit(inputs.BOILERPLATE)))
        .otherwise(F.col("content")).alias("text"),
        planted.alias("planted"),
    ).write.parquet(str(src))
    local = spark.read.parquet(str(src)).select(
        "doc_id", "text"
    ).orderBy("doc_id").toPandas()
    texts = local["text"].tolist()
    doc_ids = local["doc_id"].tolist()
    input_bytes = sum(len(t.encode()) for t in texts)
    qrows = list(enumerate(inputs.query_pool(texts, ctx.seed)[:EVAL_QUERIES]))
    # DML batch: DML_DOCS new docs with a planted unique token, and
    # DML_DOCS deletes of existing docs (their stored text drives the
    # affected terms)
    marks = [f"dmlmark{ctx.seed}x{j}" for j in range(DML_DOCS)]
    new_docs = [(-(j + 1), f"{m} {texts[j]}") for j, m in enumerate(marks)]
    victims = [(int(doc_ids[-1 - j]), texts[-1 - j]) for j in range(DML_DOCS)]

    # One cold pass per run, whatever --seconds says: a pass takes
    # ~40 s. It is the first batch job of a fresh session, which is what
    # every scheduled batch run pays (materializing the corpus already
    # started the Python workers). An untimed warm-up pass costs ~40 s,
    # which the per-run time budget does not hold; later passes run ~30%
    # faster.
    t_ready = time.perf_counter()
    setup_s = ctx.session_s + t_ready - t_setup

    p: dict = {}

    def one_pass(i: int) -> None:
        p.update(_offline_pass(ctx, src, ctx.work / "pass", qrows,
                               new_docs, victims))

    t0 = time.perf_counter()
    recs = ctx.run_ops("offline.op", one_pass, 1, ctx.seconds)
    elapsed = time.perf_counter() - t0
    if not p:
        return
    at = p["at"]
    secs = {k: b - a for k, (a, b) in at.items()}
    _common_metrics(ctx, recs, elapsed, [recs[0]["ms"]], {
        "setup_s": (ctx.at_reference("setup_s", setup_s, "s",
                                     ctx.t_start, t_ready), "s"),
        "op_p50_ms": (ctx.median_at_reference("op_p50_ms", recs), "ms"),
        "cold_query_ms": (ctx.at_reference(
            "cold_query_ms", secs["eval"] * 1e3 / len(qrows), "ms",
            *at["eval"]), "ms"),
        "ingest_docs_per_s": (ctx.at_reference(
            "ingest_docs_per_s", OFFLINE_DOCS / secs["build"], "1/s",
            *at["build"], rate=True), "1/s"),
    }, p["index_bytes"] / input_bytes)

    # checks on the pass's index, outside the timed op
    _check_dml(ctx, p["out"] / "state" / "index", new_docs, victims, marks)
    shutil.rmtree(p["out"], ignore_errors=True)
    ctx.digest_parts.append(p["checksums"])

    ctx.put(ctx.extra, "prep_docs_per_s", OFFLINE_DOCS / secs["prep"],
            "1/s")
    ctx.put(ctx.extra, "eval_queries_per_s", len(qrows) / secs["eval"],
            "1/s")
    ctx.put(ctx.extra, "dml_ms", secs["dml"] * 1e3, "ms")
    if ctx.tracer is not None:
        sums = p["checksums"]
        ctx.put(ctx.layer, "repeat_share", 0.0, "ratio")
        ctx.put(ctx.layer, "index.dml.generations", sums["dml"][0], "count")
        ctx.put(ctx.layer, "operators.span_dedup.removed_spans",
                sums["span"][0], "count")


def _prep_stages(ctx, src: Path, out: Path) -> Dict[str, list]:
    """SimHash, repeated-span removal and LM train+score over ``src``,
    each a fresh plan run by one aggregate action -> checksums. The
    planted boilerplate must be cut from every planted doc."""
    from pyspark.sql import functions as F

    from bm25_chroma_spark.operators.dedup import make_simhash64_udf
    from bm25_chroma_spark.operators.lm import score_lm, train_word_lm
    from bm25_chroma_spark.operators.span_dedup import remove_repeated_spans

    spark = ctx.spark
    sums: Dict[str, list] = {}

    def docs():
        return spark.read.parquet(str(src))

    with ctx.stage("operators.dedup.simhash"):
        r = docs().select(
            F.bit_count(make_simhash64_udf("blake2b")(F.col("text")))
            .alias("b")
        ).agg(F.sum("b"), F.count("*")).first()
    sums["simhash"] = [int(r[0]), int(r[1])]

    with ctx.stage("operators.span_dedup.remove_repeated_spans"):
        cut = remove_repeated_spans(
            docs(), span_tokens=10, min_docs=2,
            positions_path=str(out / "positions"),
        )
        r = cut.agg(
            F.sum("n_removed"),
            F.count("*"),
            F.sum((F.col("planted") & F.col("text").contains(
                inputs.BOILERPLATE)).cast("int")),
            F.min(F.when(F.col("planted"), F.col("n_removed"))),
        ).first()
    sums["span"] = [int(r[0]), int(r[1])]
    ctx.check(r[2] == 0, f"{r[2]} planted docs kept their boilerplate")
    ctx.check(r[3] is not None and r[3] >= inputs.BOILERPLATE_TOKENS,
              f"a planted doc lost only {r[3]} tokens")

    with ctx.stage("operators.lm.train_word_lm"):
        lm = train_word_lm(docs(), min_count=2)
    with ctx.stage("operators.lm.score_lm"):
        r = score_lm(docs(), lm, round_to=6).agg(
            F.sum("n_tokens"), F.sum("avg_logprob"), F.count("*")
        ).first()
    sums["lm"] = [int(r[0]), round(float(r[1]), 3), int(r[2])]
    return sums


def _offline_pass(ctx, src: Path, out: Path, qrows, new_docs,
                  victims) -> dict:
    """One pass over the materialized corpus: prep operators, a fresh
    facade ingest (its sharded build into a new directory — a resumed
    build skips complete groups), the ``query_df`` evaluation, then a
    DML batch and compaction on the new index. Every plan is built
    fresh: a re-collected plan skips materialized shuffle stages."""
    from pyspark.sql import functions as F

    from bm25_chroma_spark.index import dml

    spark = ctx.spark
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # step -> (start, end) in perf_counter seconds
    at: Dict[str, tuple] = {}

    t = time.perf_counter()
    sums = _prep_stages(ctx, src, out)
    at["prep"] = (t, time.perf_counter())

    t = time.perf_counter()
    retr = _facade(ctx, out / "state")
    idx_dir = out / "state" / "index"
    with ctx.jobs("build"):
        retr.add_documents_df(
            spark.read.parquet(str(src)).select("doc_uid", "text")
        )
    at["build"] = (t, time.perf_counter())
    stats = json.loads((idx_dir / "stats.json").read_text())
    postings = sum(
        json.loads(m.read_text())["metrics"]["postings"]
        for m in (idx_dir / "manifests").glob("group_*.json")
    )
    ctx.check(postings > 0, "the build wrote no postings")
    ctx.check(stats["n_docs"] == OFFLINE_DOCS,
              f"build n_docs {stats['n_docs']} != {OFFLINE_DOCS}")
    sums["build"] = [postings, stats["n_docs"]]
    index_bytes = harness.dir_bytes(idx_dir)

    # the evaluation batch; its one action aggregates the ranks the
    # check needs, so the result rows never reach the driver
    t = time.perf_counter()
    with ctx.stage("plans.retriever.query_df"):
        res = retr.query_df(
            spark.createDataFrame(qrows, "query_id long, query_text string"),
            n_results=10,
        )
        rows = res.groupBy("query_id").agg(
            F.min("rank").alias("lo"), F.max("rank").alias("hi"),
            F.count("*").alias("n"), F.countDistinct("rank").alias("nd"),
            F.sum(F.crc32("doc_uid") * F.col("rank")).alias("h"),
        ).collect()
    at["eval"] = (t, time.perf_counter())
    ctx.check(len(rows) == len(qrows),
              f"query_df answered {len(rows)} of {len(qrows)} queries")
    bad = [r.asDict() for r in rows
           if not (r["lo"] == 1 and r["hi"] == r["n"] == r["nd"]
                   and r["n"] <= 10)]
    ctx.check(not bad, f"query_df ranks not contiguous 1..k: {bad[:3]}")
    sums["eval"] = [sum(r["n"] for r in rows), sum(r["h"] for r in rows)]

    t = time.perf_counter()
    ddl = "doc_id long, text string"
    with ctx.jobs("write"):
        d = dml.apply_dml(
            spark, str(idx_dir),
            upserts=spark.createDataFrame(new_docs, ddl),
            delete_docs=spark.createDataFrame(victims, ddl),
        )
    ctx.check(d["live_docs"] == OFFLINE_DOCS,
              f"live docs after DML {d['live_docs']} != {OFFLINE_DOCS}")
    sums["dml"] = [_generation(idx_dir), d["live_docs"]]
    dml.compact_index(spark, str(idx_dir))
    at["dml"] = (t, time.perf_counter())
    return {"at": at, "checksums": sums, "out": out,
            "index_bytes": index_bytes}


def _check_dml(ctx, idx_dir, new_docs, victims, marks) -> None:
    """After the DML batch and compaction: each planted mark ranks its
    new doc first, and no deleted doc is returned, even for a query
    made of its own text."""
    from bm25_chroma_spark.index.shards import ShardedIndex
    from bm25_chroma_spark.index.wand import search_sharded

    idx = ShardedIndex(ctx.spark, str(idx_dir))
    ctx.check(idx.n_docs == OFFLINE_DOCS,
              f"live docs {idx.n_docs} != {OFFLINE_DOCS}")
    qs = list(enumerate(marks))
    qs += [(len(marks) + j, t) for j, (_, t) in enumerate(victims)]
    rows = search_sharded(idx, qs, top_k=10, strategy="exhaustive").collect()
    top1 = {r["query_id"]: r["doc_id"] for r in rows if r["rank"] == 1}
    for j, (doc_id, _) in enumerate(new_docs):
        ctx.check(top1.get(j) == doc_id,
                  f"{marks[j]} top-1 {top1.get(j)} != {doc_id}")
    dead = {v for v, _ in victims}
    hit = sorted({r["doc_id"] for r in rows} & dead)
    ctx.check(not hit, f"deleted docs still returned: {hit}")


WORKLOADS = {"interactive": interactive, "offline": offline}

"""Per-layer metrics of a traced run, derived from its spans and
counters.

Every workload reports every name below. Times are reported as SHARES
of the timed operations' wall time (unit ``ratio``), so a layer a
workload never reaches reads 0 without posing as a measured time; the
human-readable lines also print each span's milliseconds per op. The
few layers both workloads reach report milliseconds per op as well.
"""

from __future__ import annotations

import os
import statistics

from perfbench import harness

# spans recorded inside timed ops: wrappers over layer functions and
# the benchmark's own stage spans
SPANS = [
    "plans.retriever.query",
    "plans.retriever.query_df",
    "plans.retriever.embed",
    "index.wand.search_sharded",
    "index.shards.postings_rows",
    "functions.tokenizer.tokenize_py",
    "operators.fusion.rrf_fuse_py",
    "operators.knn.knn_bruteforce",
    "index.shards.build_sharded_index",
    "index.dml.apply_dml",
    "index.dml.compact_index",
    "operators.dedup.simhash",
    "operators.span_dedup.remove_repeated_spans",
    "operators.lm.train_word_lm",
    "operators.lm.score_lm",
]
# layers every workload reaches inside its timed ops
MS_PER_OP = [
    "plans.retriever.embed",
    "index.wand.search_sharded",
    "functions.tokenizer.tokenize_py",
]
INGEST_SPANS = [
    "plans.retriever.add_documents_batch",
    "plans.retriever.add_documents_df",
]


def layer_metrics(ctx, overhead_s: float) -> None:
    """Fill ``ctx.layer`` (and ``ctx.extra`` with the per-span
    milliseconds) from the tracer's spans and the Spark counters of the
    run's timed ops. ``overhead_s`` is the calibrated cost of one
    span."""
    tr = ctx.tracer
    put = ctx.put
    op_name, recs = ctx.op_name, ctx.recs
    n_ops = len(recs)
    timed = set(range(n_ops))
    agg = tr.summary(timed)
    op_total = agg.get(op_name, {}).get("total_s", 0.0) or 1e-12
    op_self = agg.get(op_name, {}).get("self_s", 0.0)
    put(ctx.layer, "op.unattributed_share", op_self / op_total, "ratio")
    n_spans = sum(a["calls"] for a in agg.values())
    put(ctx.layer, "trace.overhead_ms_per_op",
        overhead_s * n_spans * 1e3 / n_ops, "ms")
    put(ctx.layer, "trace.op_p50_ms", statistics.median(ctx.op_ms), "ms")
    for name in SPANS:
        a = agg.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        put(ctx.layer, f"{name}.share", a["total_s"] / op_total, "ratio")
        put(ctx.layer, f"{name}.self_share", a["self_s"] / op_total,
            "ratio")
        put(ctx.layer, f"{name}.calls_per_op", a["calls"] / n_ops, "count")
        put(ctx.layer if name in MS_PER_OP else ctx.extra,
            f"{name}.ms_per_op", a["total_s"] * 1e3 / n_ops, "ms")
        put(ctx.extra, f"{name}.self_ms_per_op", a["self_s"] * 1e3 / n_ops,
            "ms")
    run = tr.summary()
    put(ctx.layer, "session.get_spark.ms",
        run["session.get_spark"]["total_s"] * 1e3, "ms")
    ingest = [run[n] for n in INGEST_SPANS if n in run]
    put(ctx.layer, "plans.retriever.ingest.ms",
        sum(a["total_s"] for a in ingest) * 1e3
        / max(1, sum(a["calls"] for a in ingest)), "ms")
    decodes = ctx.timed.get("index.encode.decode_calls", 0)
    put(ctx.layer, "index.encode.decode_calls_per_op", decodes / n_ops,
        "count")

    jobs = [r["jobs"] for r in recs]
    put(ctx.layer, "spark.jobs_per_op", sum(jobs) / n_ops, "count")
    put(ctx.layer, "spark.zero_job_op_share",
        sum(j == 0 for j in jobs) / n_ops, "ratio")
    put(ctx.layer, "spark.stages_per_op", ctx.timed["stages"] / n_ops,
        "count")
    put(ctx.layer, "spark.failed_tasks", ctx.timed["failed_tasks"], "count")
    for key in ("build", "write"):
        st = ctx.job_stats.get(key, [])
        k = max(1, len(st))
        put(ctx.layer, f"spark.jobs_per_{key}",
            sum(j for j, _ in st) / k, "count")
        put(ctx.layer, f"spark.stages_per_{key}",
            sum(s for _, s in st) / k, "count")
    put(ctx.layer, "driver.cpu_ms_per_op",
        ctx.timed["driver_cpu_s"] * 1e3 / n_ops, "ms")
    put(ctx.layer, "process_tree.cpu_ms_per_op",
        ctx.timed["tree_cpu_s"] * 1e3 / n_ops, "ms")
    put(ctx.layer, "jvm.peak_rss_mb", harness.jvm_peak_rss_mb(os.getpid()),
        "MB")
    builds = tr.results.get("index.shards.build_sharded_index", [])
    last = builds[-1] if builds else {}
    for k in ("postings", "terms", "bytes"):
        put(ctx.layer, f"index.shards.build.{k}", last.get(k, 0), "count")

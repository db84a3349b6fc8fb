"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive|offline --seed N \\
        --seconds S --trace 0|1

Runs from the root of a checkout of the repository. Prints one line per
metric ("name value unit") and, as the LAST line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Exits non-zero when a correctness check or an operation
failed, or when the engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"


def _load_spec() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        0: [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        1: [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }


def _clean_stale_work() -> None:
    if not WORK_ROOT.exists():
        return
    for d in WORK_ROOT.glob("run-*"):
        pid = d.name.split("-", 1)[1]
        if not pid.isdigit() or not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def _tree_hash() -> str:
    """Hash of the engine's and the benchmark's sources: a stored digest
    is only compared with runs of the same code."""
    h = hashlib.sha256()
    for pkg in ("bm25_chroma_spark", "perfbench"):
        for p in sorted((ROOT / pkg).rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode() + b"\0")
            h.update(p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def _check_digest(ctx, workload: str) -> None:
    """The digest of a workload's checked outputs must not change
    between runs with one seed on one tree."""
    d = WORK_ROOT / "digests"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{workload}-{ctx.seed}-{_tree_hash()}.txt"
    digest = ctx.digest()
    print(f"digest {digest}")
    if path.exists():
        prev = path.read_text().strip()
        ctx.check(prev == digest,
                  f"digest {digest} != {prev} of an earlier run, same seed")
    else:
        path.write_text(digest + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "bm25_chroma_spark" / "__init__.py").is_file():
        print(f"bm25_chroma_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()

    sys.path.insert(0, str(ROOT))
    from perfbench import harness, report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context, install_wraps

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    _clean_stale_work()
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(ROOT, work)
    tracer = Tracer() if args.trace else None

    spark = None
    sampler = harness.HostSampler()
    sampler.start()
    try:
        t0 = time.perf_counter()
        from bm25_chroma_spark.session import get_spark

        n = harness.cores()
        if tracer is not None:
            install_wraps(tracer)
        with (tracer.span("session.get_spark") if tracer is not None
              else contextlib.nullcontext()):
            spark = get_spark(
                f"perfbench-{args.workload}", cores=n,
                shuffle_partitions=n,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.locality.wait": "0s",
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                },
            )
            spark.range(1).collect()  # the first job starts the executor
        session_s = time.perf_counter() - t0
        ctx = Context(spark, work, args.seed, args.seconds, tracer, t0,
                      session_s, sampler)
        WORKLOADS[args.workload](ctx)
        ctx.put(ctx.extra, "host_ref_ms", sampler.mean_ms(), "ms")
        _check_digest(ctx, args.workload)
        if tracer is not None:
            report.layer_metrics(ctx, tracer.calibrate())
    except Exception:
        traceback.print_exc()
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        sampler.stop()
    harness.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in sorted(
        {**ctx.e2e, **ctx.extra, **ctx.layer}.items()
    ):
        print(f"{name} {value:.6g} {unit}")
    for msg in ctx.errors:
        print(msg, file=sys.stderr)
    for msg in ctx.failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    measured = ctx.layer if args.trace else ctx.e2e
    wrong = [(m, u) for m, u in spec[args.trace]
             if m not in measured or measured[m][1] != u]
    if wrong:
        print(f"metrics not measured as specified: {wrong}",
              file=sys.stderr)
        return 1
    failed = len(ctx.errors)
    correct = not ctx.failures
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": measured[name][0], "unit": unit}
            for name, unit in spec[args.trace]
        },
    }))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

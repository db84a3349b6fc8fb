"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import pickle
import sys
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import harness, inputs
from perfbench.trace import Span, Tracer, self_times

# ---------------------------------------------------------------- #
# percentile rule                                                   #
# ---------------------------------------------------------------- #


def test_p90_needs_ten_samples_beyond_it():
    assert harness.tail_percentile(list(range(99)), 0.9) is None
    assert harness.tail_percentile(list(range(100)), 0.9) == 89.0
    # order of the input does not matter
    assert harness.tail_percentile(list(range(199, -1, -1)), 0.9) == 179.0
    assert harness.tail_percentile([], 0.9) is None


def test_p50_of_small_runs_is_allowed():
    assert harness.tail_percentile([3.0, 1.0, 2.0] * 7, 0.5) == 2.0


# ---------------------------------------------------------------- #
# self time                                                         #
# ---------------------------------------------------------------- #


def _span(start, end, parent=None):
    s = Span("x", 0, start, parent)
    s.end = end
    return s


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span(0.0, 10.0),          # op
        _span(1.0, 6.0, 0),        # leg A
        _span(4.0, 8.0, 0),        # leg B overlaps A: union is 1..8
        _span(2.0, 3.0, 1),        # grandchild: not subtracted from op
        _span(9.5, 12.0, 0),       # child running past the op: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 7.0 - 0.5)
    assert st[1] == pytest.approx(5.0 - 1.0)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(1.0)


def test_pool_thread_spans_attach_to_the_clients_open_span():
    """Pool threads do not inherit the client's context, so their spans
    are parented to the span the client thread has open."""
    tr = Tracer()
    tr.op = 7
    with tr.span("op"):
        with ThreadPoolExecutor(max_workers=2) as pool:
            def leg(name):
                with tr.span(name):
                    with tr.span(name + ".inner"):
                        pass
                return threading.get_ident()

            idents = list(pool.map(leg, ["a", "b"]))
    assert threading.get_ident() not in idents
    by_name = {s.name: (i, s) for i, s in enumerate(tr.spans)}
    op_idx = by_name["op"][0]
    assert by_name["a"][1].parent == op_idx
    assert by_name["b"][1].parent == op_idx
    assert by_name["a.inner"][1].parent == by_name["a"][0]
    assert {s.op for s in tr.spans} == {7}


# ---------------------------------------------------------------- #
# /proc CPU over the process tree                                   #
# ---------------------------------------------------------------- #


def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime)."""
    for pid, (ppid, comm, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut),
                                              str(cst)] + ["0"] * 30
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest) + "\n")
        (d / "comm").write_text(comm + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{pid * 1024} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return tmp_path


def test_tree_cpu_sums_descendants_only(tmp_path):
    tck = harness._CLK_TCK
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", 100, 50, 5, 5),
        11: (10, "java", 1000, 200, 0, 0),
        12: (11, "python (daemon) x", 30, 10, 0, 0),   # spaces, parens
        13: (12, "python", 7, 3, 0, 0),
        20: (1, "other", 999, 999, 0, 0),              # not ours
    })
    assert sorted(harness.descendants(10, proc)) == [10, 11, 12, 13]
    want = (160 + 1200 + 40 + 10) / tck
    assert harness.tree_cpu_seconds(10, proc) == pytest.approx(want)
    assert harness.tree_cpu_seconds(12, proc) == pytest.approx(50 / tck)
    assert harness.jvm_peak_rss_mb(10, proc) == pytest.approx(11.0)


# ---------------------------------------------------------------- #
# metric names                                                      #
# ---------------------------------------------------------------- #


@pytest.mark.parametrize("name", [
    "setup_s", "op_p50_ms", "index.wand.search_sharded.ms_per_op",
    "spark.jobs_per_op", "a-b.c_d", "9lives", "x" * 64,
])
def test_metric_names_accepted(name):
    harness.check_metric(name, "ms")


@pytest.mark.parametrize("name", [
    "", "_lead", ".lead", "has space", "slash/name", "x" * 65, "pct%",
])
def test_metric_names_refused(name):
    with pytest.raises(ValueError):
        harness.check_metric(name, "ms")


def test_trimmed_mean_drops_both_tails():
    assert harness.trimmed_mean([1.0] * 8 + [0.0, 100.0]) == 1.0
    assert harness.trimmed_mean([2.0, 4.0]) == 3.0


def _sampler(samples, min_samples=3):
    s = harness.HostSampler(min_samples=min_samples)
    s.samples = samples
    return s


def test_sampler_window_takes_samples_inside_the_step():
    s = _sampler([(float(t), float(t)) for t in range(10)])
    assert s.window(2.0, 6.0) == [2.0, 3.0, 4.0, 5.0, 6.0]


def test_sampler_window_widens_a_short_step_to_nearest_samples():
    s = _sampler([(float(t), float(t)) for t in range(10)])
    assert s.window(5.2, 5.3) == [4.0, 5.0, 6.0]
    assert len(s.window(-5.0, -4.0)) == 3   # before the first sample
    assert len(s.window(50.0, 60.0)) == 3   # after the last one


def test_slowness_is_relative_to_the_reference_unit(monkeypatch):
    monkeypatch.setattr(harness, "REF_UNIT_MS", 2.0)
    s = _sampler([(float(t), 4.0) for t in range(10)])
    assert s.slowness(0.0, 9.0) == pytest.approx(2.0)


def test_sampler_thread_keeps_the_client_on_every_cpu():
    before = os.sched_getaffinity(0)
    s = harness.HostSampler(period_s=0.001)
    s.start()
    deadline = time.monotonic() + 30
    try:
        while len(s.samples) < 3 and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        s.stop()
    assert len(s.samples) >= 3
    assert os.sched_getaffinity(0) == before
    assert all(ms > 0 for _, ms in s.samples)


def test_units():
    for unit in ("ms", "s", "1/s", "count", "ratio", "MB", "%"):
        harness.check_metric("m", unit)
    with pytest.raises(ValueError):
        harness.check_metric("m", "items per s")


# ---------------------------------------------------------------- #
# wrapping where the caller looks the name up                       #
# ---------------------------------------------------------------- #


@pytest.fixture
def fake_modules():
    """``pb_lib.f`` and a ``pb_caller`` that bound ``f`` at import."""
    lib = types.ModuleType("pb_lib")

    def f(x):
        return x + 1

    f.__module__ = "pb_lib"
    lib.f = f

    class K:
        def m(self, x):
            return x * 2

    lib.K = K
    caller = types.ModuleType("pb_caller")
    caller.f = lib.f
    caller.call = lambda x: caller.f(x)
    sys.modules["pb_lib"], sys.modules["pb_caller"] = lib, caller
    yield lib, caller
    del sys.modules["pb_lib"], sys.modules["pb_caller"]


def test_wrap_patches_the_callers_binding(fake_modules):
    lib, caller = fake_modules
    tr = Tracer()
    tr.wrap("pb_lib", "f", "lib.f")  # too late for the caller's copy
    assert caller.call(1) == 2
    assert [s.name for s in tr.spans] == []
    tr.wrap("pb_caller", "f", "caller.f")
    assert caller.call(1) == 2
    assert [s.name for s in tr.spans] == ["caller.f"]
    tr.unwrap_all()
    assert caller.f is lib.f  # both bindings restored to the original


def test_wrapped_method_binds_and_counts(fake_modules):
    lib, _ = fake_modules
    tr = Tracer()
    tr.wrap("pb_lib", "K.m", "lib.K.m")
    assert lib.K().m(4) == 8
    tr.wrap("pb_lib", "f", "lib.f.count", spans=False)
    lib.f(1)
    lib.f(2)
    assert [s.name for s in tr.spans] == ["lib.K.m"]
    assert tr.counts["lib.f.count"] == 2
    tr.unwrap_all()


def test_wrapped_pickles_as_the_original(fake_modules):
    """Closures Spark ships to workers may reference a wrapped global;
    the wrapper must travel as the original function, without the
    tracer (whose lock cannot be pickled)."""
    lib, caller = fake_modules
    tr = Tracer()
    original = caller.f
    tr.wrap("pb_caller", "f", "caller.f")
    wrapped = caller.f
    tr.unwrap_all()  # a worker imports the module unpatched
    assert pickle.loads(pickle.dumps(wrapped)) is original


def test_decode_counts_one_level():
    """Each decoded column counts once, whether ``decode_all`` reaches
    ``varint_decode`` through the encode module or ``index.wand`` calls
    its own binding."""
    import numpy as np

    from bm25_chroma_spark.index import encode, wand
    from perfbench.workloads import DECODE, DECODE_COUNTS

    enc = encode.encode_postings(np.arange(0, 600, 3), np.ones(200),
                                 np.full(200, 7), block_size=64)
    tr = Tracer()
    for module, attr in DECODE_COUNTS:
        tr.wrap(module, attr, DECODE, spans=False)
    try:
        docs, _, _ = encode.decode_all(enc.doc_bytes, enc.tf_bytes,
                                       enc.dl_bytes, enc.blocks)
        assert tr.counts[DECODE] == 3
        wand.varint_decode(enc.doc_bytes)
        assert tr.counts[DECODE] == 4
    finally:
        tr.unwrap_all()
    assert list(docs) == list(range(0, 600, 3))


# ---------------------------------------------------------------- #
# inputs                                                            #
# ---------------------------------------------------------------- #


def test_query_stream_repeat_share_and_determinism():
    pool = [f"q{i}" for i in range(400)]
    a = inputs.query_stream(pool, 300, seed=5, fresh_every=3)
    assert a == inputs.query_stream(pool, 300, seed=5, fresh_every=3)
    assert a != inputs.query_stream(pool, 300, seed=6, fresh_every=3)
    seen, repeats = set(), 0
    for q in a:
        repeats += q in seen
        seen.add(q)
    assert repeats == 200  # every third query is fresh
    assert a[::3] == pool[:100]

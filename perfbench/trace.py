"""In-memory spans recorded from the benchmark's own files around calls
into the engine's layers.

A span is opened either by the benchmark around one of its own calls
(``Tracer.span``) or by a wrapper installed over a layer function
(``Tracer.wrap``). Wrappers are installed where the CALLER looks the
name up: ``plans.retriever`` imports ``search_sharded`` at module
import time, so the wrapper goes on ``plans.retriever.search_sharded``;
``index.wand`` binds ``varint_decode`` the same way.

Parents: each thread keeps its own span stack. ``query()`` runs its two
legs on a thread pool whose threads start with an empty stack (they do
not inherit contextvars), so a span opened on such a thread is parented
to the innermost span open on the client thread — the benchmark drives
the engine from one closed-loop client, so that span belongs to the
current op.
"""

from __future__ import annotations

import importlib
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from types import MethodType
from typing import Dict, List, Optional, Sequence, Tuple


class Span:
    __slots__ = ("name", "op", "start", "end", "parent")

    def __init__(self, name, op, start, parent):
        self.name = name
        self.op = op
        self.start = start
        self.end = start
        self.parent = parent


def self_times(spans: Sequence[Span]) -> List[float]:
    """Per span: its duration minus the length of the UNION of its
    children's intervals clipped to it. Overlapping children (the two
    legs of ``query()``) are not subtracted twice."""
    kids: Dict[int, List[Tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(i, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s.end - s.start) - covered)
    return out


def _resolve(module: str, attr: str):
    obj = importlib.import_module(module)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


class _Wrapped:
    """Callable installed over a layer function. Binds like a function
    when set on a class, and pickles as the ORIGINAL function's import
    path, so closures Spark ships to workers never carry the tracer."""

    def __init__(self, tracer, name, fn, module, attr, spans, keep):
        self._tracer, self._name, self._fn = tracer, name, fn
        self._module, self._attr = module, attr
        self._spans, self._keep = spans, keep

    def __call__(self, *args, **kwargs):
        t = self._tracer
        if not self._spans:
            t.counts[self._name] += 1
            return self._fn(*args, **kwargs)
        with t.span(self._name):
            out = self._fn(*args, **kwargs)
        if self._keep:
            t.results[self._name].append(out)
        return out

    def __get__(self, obj, objtype=None):
        return self if obj is None else MethodType(self, obj)

    def __reduce__(self):
        return (_resolve, (self._module, self._attr))


class Tracer:
    def __init__(self):
        self.spans: List[Span] = []
        self.counts: Counter = Counter()
        # return values of wrapped calls, newest last (build metrics)
        self.results: Dict[str, list] = defaultdict(list)
        self.op: Optional[int] = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_stack: List[int] = self._stack()
        self._installed: List[Tuple[object, str, object]] = []

    def _stack(self) -> List[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._client_stack:
            parent = self._client_stack[-1]
        else:
            parent = None
        s = Span(name, self.op, time.perf_counter(), parent)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def wrap(self, module: str, attr: str, name: str,
             spans: bool = True, keep: bool = False) -> None:
        """Replace ``module.attr`` (``attr`` may be ``Class.method``)
        with a wrapper that records a span named ``name`` per call, or
        only counts calls when ``spans`` is False. ``keep`` stores each
        return value in ``results[name]``."""
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        fn = owner.__dict__[leaf] if isinstance(owner, type) else getattr(
            owner, leaf
        )
        setattr(
            owner, leaf, _Wrapped(self, name, fn, module, attr, spans, keep)
        )
        self._installed.append((owner, leaf, fn))

    def unwrap_all(self) -> None:
        for owner, leaf, fn in reversed(self._installed):
            setattr(owner, leaf, fn)
        self._installed.clear()

    # -------------------------------------------------------------- #
    # aggregation                                                     #
    # -------------------------------------------------------------- #

    def summary(self, ops: Optional[set] = None) -> Dict[str, dict]:
        """name -> {calls, total_s, self_s} over spans whose op is in
        ``ops`` (all spans when None)."""
        selfs = self_times(self.spans)
        out: Dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s, st in zip(self.spans, selfs):
            if ops is not None and s.op not in ops:
                continue
            agg = out[s.name]
            agg["calls"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += st
        return dict(out)

    def calibrate(self, n: int = 20000) -> float:
        """Seconds one wrapped call adds over a direct call."""
        probe = Tracer()
        fn = _noop
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        direct = time.perf_counter() - t0
        w = _Wrapped(probe, "probe", fn, __name__, "_noop", True, False)
        t0 = time.perf_counter()
        for _ in range(n):
            w()
        return max(0.0, (time.perf_counter() - t0 - direct) / n)


def _noop():
    return None


def _plain_embedder():
    from bm25_chroma_spark.plans.retriever import hashed_bow_embedder

    return hashed_bow_embedder


class TracedEmbedder:
    """The hashed bag-of-words embedder passed to the facade, with a
    ``plans.retriever.embed`` span per call when a tracer is set.
    Pickles as the plain embedder (executor-side embedding in
    ``add_documents_df``)."""

    def __init__(self, tracer: Optional[Tracer] = None):
        self.tracer = tracer
        self.fn = _plain_embedder()

    def __call__(self, texts):
        if self.tracer is None:
            return self.fn(texts)
        with self.tracer.span("plans.retriever.embed"):
            return self.fn(texts)

    def __reduce__(self):
        return (_plain_embedder, ())

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

REFERENCE_BM25 = Path("/root/reference/bm25_chroma/bm25.py")
TESTDATA = Path("/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from bm25_chroma_spark.session import get_spark

    s = get_spark("bm25-spark-tests", cores=4, shuffle_partitions=8)
    yield s


class JobCounter:
    """Spark jobs launched since the last ``mark()``, counted as the
    change in the highest job id (perfbench's SparkCounter idiom). The
    status tracker's job LIST is capped at spark.ui.retainedJobs
    (1000) and trimmed in batches, so under the session-scoped
    ``spark`` fixture its length stops tracking launches once the
    suite has run ~1000 jobs; the highest id keeps rising."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self.mark()

    def _last_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def mark(self) -> None:
        self._j0 = self._last_id()

    def since(self) -> int:
        return self._last_id() - self._j0


@pytest.fixture
def jobs(spark):
    return JobCounter(spark)


@pytest.fixture(scope="session")
def reference_bm25_cls():
    """The reference's pure-Python BM25 class, loaded straight from its
    module file (the package __init__ pulls in chromadb, which is not
    installed; bm25.py itself degrades gracefully without NLTK —
    /root/reference/bm25_chroma/bm25.py:37-40 — giving the
    deterministic regex tokenizer path). Used as a golden oracle only;
    no reference code is copied into this repo."""
    if not REFERENCE_BM25.exists():
        pytest.skip("reference repo not available")
    spec = importlib.util.spec_from_file_location(
        "reference_bm25", REFERENCE_BM25
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert not mod.LEMMATIZATION_AVAILABLE, (
        "NLTK present: reference tokenizer would be nondeterministic"
    )
    return mod.BM25


@pytest.fixture(scope="session")
def sf_dir():
    d = TESTDATA / "sf0.001"
    if not d.exists():
        pytest.skip("testdata not available")
    return str(d)

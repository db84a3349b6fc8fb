"""The session factory's settings that the engine relies on."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

_PROBE = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from bm25_chroma_spark.session import get_spark

spark = get_spark("debugging-probe", cores=1, shuffle_partitions=1)
df = spark.range(3).select(F.xxhash64("id").alias("h"))
print(spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
print("IPython" in sys.modules)
spark.stop()
"""


def test_factory_session_skips_dataframe_debugging():
    """With DataFrame debugging on, every pyspark.sql.functions call
    walks the Python stack over py4j and imports IPython (when it is
    installed): ~26 MB of driver RSS. The factory's session turns it
    off, so a fresh process that builds a column expression never
    imports IPython."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=str(REPO_ROOT))],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["false", "False"], out.stdout

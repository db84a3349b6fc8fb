"""SparkSession factory tuned for this engine.

Arrow execution on (all heavy Python work is vectorized pandas UDFs),
AQE on (runtime coalescing + skew-join splitting). On a real cluster
the same code ships via spark-submit --py-files; `cores` only matters
for local mode.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bm25-chroma-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    master = f"local[{cores}]" if cores else os.environ.get(
        "SPARK_GRAFT_MASTER", "local[*]"
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's DataFrame debugging walks the Python stack on every
        # pyspark.sql.functions call (3-4 py4j calls each) and imports
        # IPython when installed: ~26 MB of driver RSS, no engine use
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

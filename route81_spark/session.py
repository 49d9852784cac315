"""SparkSession factory tuned for the harness (local[N]) but configured
so the same plans scale to a multi-executor cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow enabled for
the few pandas-UDF paths, UTC session time zone for deterministic date
semantics against the DuckDB oracle.

DataFrame debugging (`spark.python.sql.dataFrameDebugging.enabled`) is
off. With it on, PySpark captures the Python call site on every
Column/DataFrame call: a stack walk, a failed `import ipykernel` and
extra Py4J round trips per call (`F.col` makes 3 calls instead of 13,
`.alias` on a bare column 1 instead of 11). That is most of the
construction cost of a small plan, and a daemon micro-batch pays it on
every batch. What is lost: an analysis or runtime error no longer names
the Python line that built the failing expression in its query context;
the error class, the message and the SQL-side context are unchanged.
PySpark reads the setting once per process, from the first active
session, so a session created elsewhere before `get_spark` keeps its
own choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "route81_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

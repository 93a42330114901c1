"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` (N from SPARK_GRAFT_CPUS, default 32); the
same settings are what we'd submit to a real cluster via ``spark-submit
--py-files`` (see plans/pipeline.py for the job entry point). Scale-relevant
choices:

- AQE on (runtime coalesce + skew-join splitting) — the north_rule requires
  explicit skew handling; AQE is the built-in half, host-salting
  (operators/ and plans/pipeline.py) is the app half.
- Arrow on with a bounded batch size so pandas-UDF extractors see predictable
  memory per batch (reference batches external calls at 100,
  /root/reference/docs/TECHSPEC.md:88 — Arrow batch is our analog).
- shuffle.partitions sized to cores locally; on a real cluster AQE coalesces
  from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pdf_parser_benchmark_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); the N-vs-4N scaling
    benchmark calls this twice with different values (BENCH/BASELINE.md).
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

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
- On a ``local`` master, Python workers fork from ``worker_daemon``, which
  stops every task from re-reading Spark's own zip archives: pyspark's stock
  daemon spends ~0.25 s of each task on it (64 one-partition tasks on
  ``local[4]``, CPython 3.11). The daemon starts before ``--py-files`` reach
  the workers, so the package root goes on the workers' PYTHONPATH; local
  workers share the driver's filesystem. Other masters keep the stock daemon.
- The driver heap defaults to three quarters of physical RAM (1g..48g);
  ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pdf_parser_benchmark_spark import worker_daemon

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the directory holding the package, or the zip when it is imported from one
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """Three quarters of physical RAM in whole GiB, at least 1g, at most 48g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, ram * 3 // 4 // 2**30))}g"


def spark_conf(
    master: str,
    n: int,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Every conf ``get_spark`` sets for ``master`` with ``n`` cores."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "128m",
        **(extra_conf or {}),
    }
    if master.startswith("local"):
        conf["spark.python.daemon.module"] = worker_daemon.__name__
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    return conf


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
    master = os.environ.get("SPARK_MASTER", f"local[{n}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in spark_conf(master, n, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

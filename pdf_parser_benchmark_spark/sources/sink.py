"""Output sink: Iceberg when a catalog is configured, parquet otherwise.

The production design writes `df.writeTo(table).overwritePartitions()` on an
Iceberg catalog (atomic per-partition replacement, snapshot isolation — the
right target for resumable 10^12-row runs). This container has no Iceberg
runtime jar (SURVEY.md §7), so the fallback is parquet with dynamic
partition overwrite, which preserves the property the checkpoint protocol
needs: re-writing a split replaces exactly that split.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F


def is_table_identifier(path_or_table: str) -> bool:
    """catalog.db.table → Iceberg table; anything path-like → parquet."""
    return path_or_table.count(".") >= 2 and not path_or_table.startswith("/")


def _table_exists(spark: SparkSession, table: str) -> bool:
    try:
        return spark.catalog.tableExists(table)
    except Exception:
        return False


def read_extracted(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Sink-aware read-back: Iceberg table identifier or parquet path."""
    if is_table_identifier(path_or_table):
        return spark.read.table(path_or_table)
    return spark.read.parquet(path_or_table)


def write_extracted(
    df: DataFrame,
    path_or_table: str,
    split_count: int,
    partition_col: str = "split_id",
    metrics: Sequence[Column] = (),
) -> Observation | None:
    """Commit one batch of extracted splits; ``split_count`` is the number
    of distinct ``partition_col`` values ``df`` holds.

    ``metrics`` (named aggregates) are observed on the rows the write
    commits and returned as an ``Observation``; ``None`` without metrics.
    Its ``get`` blocks until the write's action has finished, so call it
    only after a write that ran one.

    Invariant the checkpoint protocol depends on (module docstring):
    re-writing a split replaces EXACTLY that split — never the table.
    Iceberg: create once if absent, then overwritePartitions() (dynamic
    per-partition replacement, snapshot-isolated). createOrReplace() here
    would wipe previously committed batches while the manifest still marks
    them complete — silent data loss on resume.
    """
    spark = df.sparkSession
    # Colocate each split's rows into one task before the partitioned
    # write: without this, EVERY upstream task writes a part file into
    # EVERY split directory it touches — the r5 10M-doc pipeline smoke
    # measured 524,288 files for 256 splits (2048 tasks × 256 splits), the
    # classic small-files failure that kills a 10^12-row table. The hash
    # repartition moves the (smaller, post-extraction) output once, and
    # each task writes the whole splits it owns: one file per split.
    # The partition count is given, not left to AQE: AQE would coalesce a
    # by-column repartition of a small batch to ONE task, writing all of
    # the batch's files on one core; a by-number repartition is never
    # coalesced, so min(splits, cores) tasks share the write.
    n = min(split_count, spark.sparkContext.defaultParallelism)
    df = df.repartition(n, F.col(partition_col))
    # Observed above the exchange, so the metrics come from the write's
    # result stage: the scheduler merges a result task's accumulators once
    # per partition, a shuffle-map task's on every successful attempt, so
    # a recomputed map stage would count its rows twice.
    observation = None
    if metrics:
        observation = Observation()
        df = df.observe(observation, *metrics)
    if is_table_identifier(path_or_table):
        writer = df.writeTo(path_or_table).partitionedBy(F.col(partition_col))
        if _table_exists(spark, path_or_table):
            writer.overwritePartitions()
        else:
            writer.create()
        return observation
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        df.write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path_or_table)
    )
    return observation

"""Partition-level checkpoint manifest: resume = left-anti join of input
splits against completed-split records.

Generalizes the reference's two skip mechanisms into one primitive:
whole-run guard (`nodes.json exists` → exit, /root/reference/src/ingest.py:276-281)
and incremental SKU skip (anti-filter against already-indexed SKUs,
/root/reference/src/embed.py:106-115).

A *split* is a deterministic bucket of urls: ``pmod(xxhash64(url), n_splits)``
— stable across runs, partition counts, and cluster sizes, so a resumed run
at different parallelism skips exactly the work a previous run committed.
Each manifest row records the ``n_splits`` it was computed under: split 3
of 64 is NOT split 3 of 128, so resume ignores rows from a different
bucketing rather than silently skipping the wrong url set.

Write protocol (idempotence, SURVEY.md §7 hard-part 4): output is written
partitioned-by-split with dynamic partition overwrite FIRST, the manifest
rows are appended AFTER — a crash between the two re-does a split
(overwrite, harmless) but never skips an unwritten one. Rows carry a
monotonic ``commit_seq`` (driver wall-clock ns at mark time) so "latest
wins" is well-defined across resumed runs.

The append is one parquet file that the driver writes, not a Spark job:
the rows of a commit (a few per split) are known on the driver already, so
a distributed write would only add a job. The file is written under a
hidden name in the manifest directory and then ``os.replace``d to
``part-<commit_seq>-<run_id>.parquet``, so readers see the whole file or
none of it. The manifest directory must therefore be on a filesystem the
driver reaches through ``os``, which this module already requires: the
crash recovery of compaction (``_recover_manifest``, the renames in
``compact_manifest``) and the emptiness check (``_walk_files``) use ``os``
too.

Hidden-path rule: like Spark's file listing, the readers here skip every
file or directory whose name starts with ``_`` or ``.``. So a temporary
file of an unfinished append, driver-written (``.part-*``) or left by a
crashed Spark append (``_temporary/...``), never counts as a completed
split, and a manifest that holds only such files reads as empty.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "split_id INT, status STRING, rows_out BIGINT, run_id STRING, "
    "n_splits INT, commit_seq BIGINT"
)


def with_split_id(df: DataFrame, n_splits: int, url_col: str = "url") -> DataFrame:
    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1, got {n_splits}")
    return df.withColumn(
        "split_id", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_splits)).cast("int")
    )


def _recover_manifest(manifest_dir: str) -> None:
    """Heal a crash mid-compaction-swap: if the live dir is gone but the
    renamed-aside copy survives, put it back. Never leaves zero manifest."""
    old = manifest_dir.rstrip("/") + ".old"
    if not os.path.isdir(manifest_dir) and os.path.isdir(old):
        os.rename(old, manifest_dir)


def read_completed_splits(
    spark: SparkSession, manifest_dir: str, n_splits: int | None = None
) -> DataFrame:
    """Distinct completed split ids (empty DF if no manifest yet).

    With ``n_splits`` given, rows recorded under a DIFFERENT bucketing are
    ignored — resuming 64-split work with n_splits=128 redoes everything
    instead of skipping wrong splits. Legacy manifests without the column
    are trusted as-is."""
    _recover_manifest(manifest_dir)
    if not os.path.isdir(manifest_dir) or not any(
        f.endswith(".parquet") for f in _walk_files(manifest_dir)
    ):
        return spark.createDataFrame([], "split_id INT")
    df = spark.read.parquet(manifest_dir).filter(F.col("status") == "complete")
    if n_splits is not None and "n_splits" in df.columns:
        df = df.filter(F.col("n_splits") == n_splits)
    return df.select("split_id").distinct()


def _hidden(name: str) -> bool:
    return name.startswith(("_", "."))


def _walk_files(root: str):
    """Names of the files under ``root`` that Spark's file listing reads:
    the hidden-path rule (module docstring) prunes the rest."""
    for _dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        yield from (f for f in files if not _hidden(f))


def filter_resumable(
    df_with_split: DataFrame,
    spark: SparkSession,
    manifest_dir: str,
    n_splits: int | None = None,
) -> DataFrame:
    """Drop rows of already-completed splits (left-anti, broadcast: the
    manifest is tiny relative to input)."""
    done = read_completed_splits(spark, manifest_dir, n_splits)
    return df_with_split.join(F.broadcast(done), "split_id", "left_anti")


def compact_manifest(spark: SparkSession, manifest_dir: str) -> int:
    """Squash the append-only manifest to one row per (n_splits, split_id),
    latest commit_seq wins.

    The manifest grows one row per split per run; at 10^12 scale with many
    resumed runs this is the small-files problem in miniature. Compaction
    rewrites it as a single snapshot. The swap renames the old dir aside
    BEFORE moving the new one in, and the read path heals a half-finished
    swap (_recover_manifest) — a crash at any point leaves a readable
    manifest, worst case the uncompacted one."""
    import shutil

    from pyspark.sql import Window

    _recover_manifest(manifest_dir)
    df = spark.read.parquet(manifest_dir)
    order = (
        [F.desc("commit_seq"), F.desc("run_id")]
        if "commit_seq" in df.columns
        else [F.desc("run_id")]  # legacy manifest: arbitrary-but-stable
    )
    keys = ["split_id"] + (["n_splits"] if "n_splits" in df.columns else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    tmp = manifest_dir.rstrip("/") + ".compacting"
    old = manifest_dir.rstrip("/") + ".old"
    latest.coalesce(1).write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(manifest_dir, old)  # old snapshot survives until the new is live
    os.rename(tmp, manifest_dir)
    shutil.rmtree(old)
    return n


# MANIFEST_SCHEMA as the Arrow schema of the driver-written files
_MANIFEST_ARROW = pa.schema([
    (name, {"INT": pa.int32(), "STRING": pa.string(), "BIGINT": pa.int64()}[t])
    for name, t in (field.split() for field in MANIFEST_SCHEMA.split(", "))
])


def mark_splits_complete(
    rows_out: dict[int, int],
    manifest_dir: str,
    run_id: str,
    n_splits: int | None = None,
) -> None:
    """Append one `complete` row per split written this run, with its
    output row count (``rows_out``: split id → rows), as one atomic
    driver-written file (module docstring). Starts no Spark job."""
    os.makedirs(manifest_dir, exist_ok=True)
    seq = time.time_ns()
    splits = sorted(rows_out)
    table = pa.table(
        [
            splits,
            ["complete"] * len(splits),
            [rows_out[s] for s in splits],
            [run_id] * len(splits),
            [n_splits] * len(splits),
            [seq] * len(splits),
        ],
        schema=_MANIFEST_ARROW,
    )
    name = f"part-{seq}-{run_id}.parquet"
    tmp = os.path.join(manifest_dir, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_dir, name))

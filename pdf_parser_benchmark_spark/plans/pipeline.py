"""The flagship extraction pipeline, end to end:

    read pages table → assign split buckets → resume-filter vs checkpoint
    manifest → cache the remaining pages and count them per split → per
    commit batch: Arrow-vectorized extraction (mapInPandas) → write
    partitioned output, observing the summary counters → mark splits
    complete → add the batch's counters to the run summary.

This is the Spark restatement of the reference's sequential per-book loop
(/root/reference/src/ingest.py:283-296) — the loop becomes per-partition
Arrow batches; the HTTP hops to LLMSherpa/GPT-4o become in-process
from-scratch extractors (extract/); the nodes.json sink becomes a
partitioned, resumable table write.

Scale design (north_rule):
- one kernel: ``_extract_batches`` is the only per-doc loop and
  ``extract_splits`` its only call site — batch and resumable paths both
  go through it, so every path emits the same bytes. Per document it
  returns one representation, the canonical record of
  ``extract_document_json`` (the golden files' function), and its
  scalars: the columns the sink stores. Readers derive ``text``, ``spans``
  and the meta columns in the JVM (``sources.sink.project_extracted``);
- parallelism: zero-shuffle by default — task granularity comes from the
  input splits; ``n_tasks`` forces a repartition whose only key is
  ``xxhash64(url)``, uniform regardless of the zipf host distribution;
- skew: host-colocated consumers use ``auto_salted_host_key`` /
  ``salted_host_key``, which split hot hosts across S buckets
  (``concat(host, pmod(xxhash64(url), S))``); AQE skew-join stays on;
- the heavy stage is mapInPandas: the only shuffle after it is the
  write's repartition by split, which moves the record and its scalars;
- one read of the input per job, and no job after a commit batch's
  extraction+write, the last batch's included (``run_pipeline``).
"""

from __future__ import annotations

import uuid
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..extract.assemble import extract_document_json
from ..sources import checkpoint as ckpt
# perfbench's tracing hooks look up lineage_counters and read_extracted here
from ..sources.lineage import SUMMARY_COUNTERS, lineage_counters, summary_metrics  # noqa: F401
from ..sources.sink import EXTRACTED_SCHEMA, _KERNEL_SCHEMA, project_extracted  # noqa: F401
from ..sources.sink import read_extracted, write_extracted  # noqa: F401


def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
    """Arrow batch → one canonical record per document (_KERNEL_SCHEMA).
    Per-document try/except keeps poison documents from killing the task
    (reference precedent: per-page and per-book continue-on-error in the
    reference's src/ingest.py:154-165): such a row has a null ``canonical``
    and a non-null ``error``."""
    import pandas as pd

    for b in batches:
        canonical, n_bytes_in, errors = [], [], []
        for url, payload in zip(b["url"], b["html"]):
            doc = error = None
            payload = bytes(payload) if payload is not None else b""
            try:
                doc = extract_document_json(url, payload)
            except Exception as e:  # poison document
                error = f"{type(e).__name__}: {e}"[:500]
            canonical.append(doc)
            n_bytes_in.append(len(payload))
            errors.append(error)
        yield pd.DataFrame({
            "url": b["url"], "warc_ts": b["warc_ts"], "lang": b["lang"],
            "canonical": canonical, "n_bytes_in": n_bytes_in, "error": errors,
            "split_id": b["split_id"],
        })


def salted_host_key(url_col: str = "url", salt_buckets: int = 16):
    """Host-colocated partition key with hot-host splitting:
    concat(host, pmod(xxhash64(url), S)). Salts EVERY host — co-location
    is lost for all of them; prefer auto_salted_host_key when only a few
    hosts are hot (the common web-corpus shape)."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    return F.concat_ws(
        "#", host, F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    )


def auto_salted_host_key(
    df: DataFrame,
    url_col: str = "url",
    share_threshold: float = 0.05,
    salt_buckets: int = 16,
):
    """MEASURED skew handling: one tiny (host, count) aggregation finds the
    hosts holding more than ``share_threshold`` of the rows; only those are
    salted across ``salt_buckets``, every cold host keeps its pure host key
    (co-location preserved). Scale shape: the per-host counts never leave
    the cluster — only the hot list does, and it is bounded above by
    1/share_threshold entries regardless of corpus size."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    counts = df.groupBy(host.alias("h")).count().persist()
    try:
        total = counts.agg(F.sum("count")).collect()[0][0] or 0
        hot = [
            r["h"]
            for r in counts.filter(
                F.col("count") >= share_threshold * total
            ).collect()
        ]
    finally:
        counts.unpersist()
    salted = salted_host_key(url_col, salt_buckets)
    return F.when(host.isin(hot), salted).otherwise(host) if hot else host


def extract_splits(df: DataFrame, n_tasks: int | None = None) -> DataFrame:
    """The one extraction call site: a frame that already carries
    ``split_id`` → the kernel's rows (``_KERNEL_SCHEMA``). With ``n_tasks``
    the rows are first repartitioned on ``xxhash64(url)``; otherwise the
    plan is shuffle-free and task granularity comes from the input splits."""
    if n_tasks is not None:
        df = df.repartition(n_tasks, F.xxhash64("url"))
    return df.mapInPandas(_extract_batches, schema=_KERNEL_SCHEMA)


def extract_pages(
    pages: DataFrame, n_splits: int = 64, n_tasks: int | None = None
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → ``EXTRACTED_SCHEMA`` rows
    (no I/O), as ``read_extracted`` returns them from ``run_pipeline``'s
    output over the same pages.

    Extraction is embarrassingly parallel, so the DEFAULT (n_tasks=None) is
    zero-shuffle: task granularity comes from input splits
    (`spark.sql.files.maxPartitionBytes` — size it so a task holds a few MB
    of payload; small splits double as skew insurance since per-doc cost
    varies ~12× between HTML and PDF). Pass n_tasks to repartition on
    ``xxhash64(url)`` first — needed when the source is a few huge
    unsplittable files.
    """
    df = ckpt.with_split_id(pages, n_splits)
    return project_extracted(extract_splits(df, n_tasks))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    manifest_dir: str,
    n_splits: int = 64,
    n_tasks: int | None = None,
    resume: bool = True,
    commit_batches: int = 4,
    fail_after_batches: int | None = None,
) -> dict:
    """Full resumable job. Returns summary counters (small driver dict).

    Splits are processed in ``commit_batches`` write+mark transactions: a
    crash loses at most one batch of splits; a resumed run anti-joins the
    manifest and redoes only unmarked splits. ``fail_after_batches`` is a
    test hook that simulates a mid-job crash between commits.

    A batch runs only its extraction+write, with no job after it. The
    split-listing job counts the remaining rows per split; extraction emits
    one row per input row, error rows included, so those counts are the
    manifest's ``rows_out`` and ``mark_splits_complete`` writes them from
    the driver. The write repartitions to min(splits in the batch,
    ``defaultParallelism``) tasks, one file per split.

    The summary's counters (``sources.lineage.SUMMARY_COUNTERS``, the same
    aggregates as the lineage table) are observed on each batch's write and
    added up on the driver; only committed batches count, so after a crash
    (``fail_after_batches``) they cover the splits in the manifest, and a
    no-op re-run reports zeros. The output is never read back.

    The input is read once per job. The split-tagged, resume-filtered pages
    are persisted (MEMORY_AND_DISK); the split-listing job materializes them
    and every commit batch filters that copy. Without it each batch would
    re-read and re-parse the whole input: ``split_id`` hashes the parsed
    url, so the batch filter cannot be pushed into the source. The cost:
    for the length of the job the executors hold one columnar copy of the
    remaining input in memory, spilling to ``spark.local.dir`` what does
    not fit. It is released on every way out, a crash inside a batch
    included.
    """
    if commit_batches < 1:
        raise ValueError(f"commit_batches must be >= 1, got {commit_batches}")
    run_id = uuid.uuid4().hex[:12]
    df = ckpt.with_split_id(pages, n_splits)
    if resume:
        df = ckpt.filter_resumable(df, spark, manifest_dir, n_splits)
    # read the input once: the split listing fills the cache, batches filter it
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    summary = {"run_id": run_id, **dict.fromkeys(SUMMARY_COUNTERS, 0),
               "splits_done": 0}
    try:
        # one output row per input row (_extract_batches), so the listing's
        # per-split counts are the rows each split writes
        rows_in = {
            r["split_id"]: r["count"]
            for r in df.groupBy("split_id").count().collect()
        }
        remaining = sorted(rows_in)
        batch_size = max(1, -(-len(remaining) // commit_batches))
        batches = [
            remaining[i : i + batch_size]
            for i in range(0, len(remaining), batch_size)
        ]
        for bi, split_batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                break  # simulated crash: manifest only covers committed batches
            part = df.filter(F.col("split_id").isin(split_batch))
            # dynamic overwrite by split; the write job also counts the summary
            observed = write_extracted(
                extract_splits(part, n_tasks), output_dir, len(split_batch),
                metrics=summary_metrics(),
            )
            ckpt.mark_splits_complete(
                {s: rows_in[s] for s in split_batch}, manifest_dir, run_id, n_splits
            )
            for key, value in observed.get.items():
                summary[key] += value
            summary["splits_done"] += len(split_batch)
    finally:
        df.unpersist()
    return summary

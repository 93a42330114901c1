"""Output sink: Iceberg when a catalog is configured, parquet otherwise.

The production design writes `df.writeTo(table).overwritePartitions()` on an
Iceberg catalog (atomic per-partition replacement, snapshot isolation — the
right target for resumable 10^12-row runs). This container has no Iceberg
runtime jar (SURVEY.md §7), so the fallback is parquet with dynamic
partition overwrite, which preserves the property the checkpoint protocol
needs: re-writing a split replaces exactly that split.

The stored format lives here. A table holds the kernel's columns only
(``_KERNEL_SCHEMA``), partitioned by ``split_id``. ``canonical`` is the
paper's output contract, one text+span JSON record per url, and ``text``,
``spans``, ``chunk_count``, ``parser`` and ``source`` are views of it:
storing them too would store each record about twice and ship the copy
through the write's shuffle. ``project_extracted`` derives them;
``extract_pages`` and ``read_extracted`` call it, so every reader sees
``EXTRACTED_SCHEMA``. ``read_extracted`` selects the stored columns by name
first, so splits written in the earlier 12-column format (the derived
columns stored beside the record) read the same.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

# what the kernel returns and a table stores
_KERNEL_SCHEMA = (
    "url string, warc_ts timestamp, lang string, canonical string, "
    "n_bytes_in bigint, error string, split_id int"
)
_KERNEL_COLS = [field.split()[0] for field in _KERNEL_SCHEMA.split(", ")]
_PARTITION_COL = "split_id"
_SPANS = (
    "array<struct<start:int,end:int,kind:string,page:int,"
    "chapter:string,section:string>>"
)
# what every reader sees: the stored columns plus the record's fields
EXTRACTED_SCHEMA = (
    f"url string, warc_ts timestamp, lang string, text string, spans {_SPANS}, "
    "chunk_count int, parser string, source string, "
    "canonical string, n_bytes_in bigint, error string, split_id int"
)
# the fields of the canonical record (canonical.encode_doc) that become columns
_DOC_FIELDS = {
    "text": "string",
    "spans": _SPANS,
    "meta": "struct<chunk_count:int,parser:string,source:string>",
}
# Jackson's default cap on one JSON string is 20M chars: a longer text would
# parse to null
_DOC_OPTIONS = {"maxStringLen": str(2**31 - 1)}


def parse_canonical(*fields: str) -> Column:
    """``from_json`` of ``canonical`` to the named record fields (all by
    default); null on an error row. Catalyst does not prune this parse to
    the fields a reader uses (``OptimizeCsvJsonExprs`` skips a ``from_json``
    with options), so a reader of few fields names them, and Jackson skips
    the others without materializing them."""
    schema = ", ".join(f"{f} {_DOC_FIELDS[f]}" for f in fields or _DOC_FIELDS)
    return F.from_json("canonical", schema, _DOC_OPTIONS)


def project_extracted(df: DataFrame) -> DataFrame:
    """Stored or kernel rows → ``EXTRACTED_SCHEMA``. The parse gets its own
    column, so the plan holds one ``from_json`` (fields taken from it in the
    same select would each parse again), or none if no reader needs it."""
    doc = df.select("*", parse_canonical().alias("_doc"))
    return doc.select(
        "url", "warc_ts", "lang", "_doc.text", "_doc.spans",
        "_doc.meta.chunk_count", "_doc.meta.parser", "_doc.meta.source",
        "canonical", "n_bytes_in", "error", "split_id",
    )


def is_table_identifier(path_or_table: str) -> bool:
    """catalog.db.table → Iceberg table; anything path-like → parquet."""
    return path_or_table.count(".") >= 2 and not path_or_table.startswith("/")


def _table_exists(spark: SparkSession, table: str) -> bool:
    try:
        return spark.catalog.tableExists(table)
    except Exception:
        return False


def read_extracted(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Sink-aware read-back (Iceberg table or parquet path) →
    ``EXTRACTED_SCHEMA``, from the stored columns only, by name."""
    read = spark.read.table if is_table_identifier(path_or_table) else spark.read.parquet
    return project_extracted(read(path_or_table).select(*_KERNEL_COLS))


def write_extracted(df: DataFrame, path_or_table: str, split_count: int,
                    metrics: Sequence[Column] = ()) -> Observation | None:
    """Commit one batch of extracted splits; ``split_count`` is the number
    of distinct ``split_id`` values ``df`` (the kernel's rows) holds.

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
    # write: otherwise EVERY upstream task writes a part file into EVERY
    # split it touches (2048 tasks × 256 splits = 524,288 files on a 10M-doc
    # run); this way each split is one file. The partition count is given:
    # AQE would coalesce a by-column repartition of a small batch to ONE
    # task, so the batch's files would be written on one core.
    n = min(split_count, spark.sparkContext.defaultParallelism)
    df = df.repartition(n, F.col(_PARTITION_COL))
    # Observed above the exchange, so the metrics come from the write's
    # result stage: the scheduler merges a result task's accumulators once
    # per partition, a shuffle-map task's on every successful attempt, so
    # a recomputed map stage would count its rows twice.
    observation = None
    if metrics:
        observation = Observation()
        df = df.observe(observation, *metrics)
    if is_table_identifier(path_or_table):
        writer = df.writeTo(path_or_table).partitionedBy(F.col(_PARTITION_COL))
        if _table_exists(spark, path_or_table):
            writer.overwritePartitions()
        else:
            writer.create()
        return observation
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        df.write.mode("overwrite")
        .partitionBy(_PARTITION_COL)
        .parquet(path_or_table)
    )
    return observation

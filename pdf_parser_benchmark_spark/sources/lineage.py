"""Per-partition lineage + counters table (north_rule obligation).

Reference analogs: the rename audit CSV (K4,
/root/reference/data/pdfs/rename_pdfs.py:164-169) and the per-sku ingestion
summary (A2, /root/reference/src/ingest.py:220-252). Ours is computed as a
plain aggregation over the extracted output — map-side partial aggregation
means this costs one cheap shuffle of pre-aggregated rows.

The counters are defined once, in ``_counters``. ``lineage_counters``
groups them by split over extracted rows; ``summary_metrics`` gives the
job-level subset that ``run_pipeline`` observes on each commit batch's
write, so the run summary costs no job of its own and cannot drift from
the lineage table. The write moves stored rows, so the summary reads the
parser from a parse of ``canonical`` to ``meta`` only: Jackson skips
``text`` and ``spans`` (``sources.sink.parse_canonical``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .sink import parse_canonical

# run summary key → the lineage column it totals
SUMMARY_COUNTERS = {
    "docs": "docs_out",
    "errors": "docs_err",
    "bytes_in": "bytes_in",
    "html_docs": "html_docs",
    "pdf_docs": "pdf_docs",
}


def _counters(parser: Column) -> dict[str, Column]:
    """Lineage column → its aggregate over rows whose parser is ``parser``."""
    return {
        "docs_out": F.count(F.lit(1)),
        "docs_err": F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)),
        "html_docs": F.sum(F.when(parser == "html", 1).otherwise(0)),
        "pdf_docs": F.sum(F.when(parser == "pdf", 1).otherwise(0)),
        "bytes_in": F.sum("n_bytes_in"),
        "chars_out": F.sum(F.length("text")),
    }


def summary_metrics() -> list[Column]:
    """The run summary's aggregates over stored rows, named by their keys."""
    agg = _counters(parse_canonical("meta")["meta"]["parser"])
    return [agg[col].alias(key) for key, col in SUMMARY_COUNTERS.items()]


def lineage_counters(extracted: DataFrame) -> DataFrame:
    """Counters per split: docs in/out/err, per-parser counts, byte volumes."""
    return (
        extracted.groupBy("split_id")
        .agg(*[agg.alias(col) for col, agg in _counters(F.col("parser")).items()])
        .orderBy("split_id")
    )

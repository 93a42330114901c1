"""Streaming twins of the batch pipeline stages.

- stream_extract: continuous ingestion — readStream over the input-table
  directory → plans.pipeline.extract_splits, the one extraction call site
  the batch job also uses → parquet sink with checkpointing. Stateless,
  so exactly-once comes from the sink+checkpoint contract; resume is
  Spark's own offset log (the batch path's split-manifest is the backfill
  analog). stream_ingest_with_manifest goes through extract_splits too.
- windowed_counts: tumbling-window counters with a watermark for late data
  (the streaming twin of queries.windowed_event_counts).
- sessionize_stateful: applyInPandasWithState custom stateful operator —
  per-user running session assignment with a 30-minute idle timeout,
  mirroring the batch sessionize query.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..plans.pipeline import extract_splits
from ..sources.checkpoint import with_split_id
from ..synth.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_splits: int = 64,
):
    """Start (availableNow) the streaming extraction; returns the query."""
    pages = read_pages_stream(spark, input_dir)
    extracted = extract_splits(with_split_id(pages, n_splits))
    return (
        extracted.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", output_dir)
        .start()
    )


def stream_ingest_with_manifest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    n_splits: int = 64,
    max_files_per_trigger: int = 8,
):
    """Streaming ingest wired into the SAME operational layer as the batch
    job: each micro-batch extracts, writes through write_extracted (dynamic
    overwrite by split), and appends `complete` rows to the checkpoint
    manifest — the identical partition-level lineage the batch layer reads,
    recorded under the negated bucketing sentinel (n_splits = -N) because
    stream split ids are batch-namespaced, not url-hash buckets: a batch
    resume filtering on n_splits=N sees none of them (and so never skips a
    hash bucket the stream only partially covered), while stream-side
    consumers audit progress with n_splits=-N. Exactly-once at the file
    level comes from the streaming checkpoint; the manifest adds the
    split-level audit trail. Returns the started (availableNow) query."""
    from ..sources import checkpoint as ckpt
    from ..sources.sink import write_extracted

    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # namespace splits per micro-batch: with_split_id hashes urls into
        # the SAME 0..n_splits-1 range every batch, and write_extracted's
        # dynamic overwrite replaces whole split partitions — without the
        # batch offset, batch k+1 would clobber batch k's rows in every
        # shared split. With it, each batch owns its split range, so a
        # replayed batch (file list pinned by the offset log) overwrites
        # exactly its own partitions: idempotent AND append-safe.
        # The long->int narrowing below is guarded: at 64 splits the int32
        # range lasts ~33.5M micro-batches; past that we fail loudly rather
        # than wrap split ids into other batches' ranges (ADVICE r4).
        if (int(batch_id) + 1) * n_splits > 2**31 - 1:
            raise OverflowError(
                f"split namespace exhausted at batch {batch_id} "
                f"(n_splits={n_splits}): widen split_id before resuming"
            )
        df = with_split_id(batch_df, n_splits).withColumn(
            "split_id",
            (F.lit(int(batch_id)).cast("long") * n_splits
             + F.col("split_id")).cast("int"),
        )
        extracted = extract_splits(df).persist()
        try:
            if extracted.isEmpty():
                return
            # manifest rows are recorded under the NEGATED bucketing
            # sentinel (-n_splits): these split ids live in the stream's
            # batch-namespaced range, NOT the plain pmod(xxhash64(url),
            # n_splits) buckets — a batch resume filtering on n_splits must
            # never mistake "stream covered batch 0's files" for "hash
            # bucket fully done" and skip whole buckets (ADVICE r4: silent
            # data loss on the interop path). Stream-side consumers read
            # progress with n_splits=-n_splits.
            write_extracted(extracted, output_dir)
            ckpt.mark_splits_complete(
                extracted, manifest_dir, f"stream-{batch_id}", -n_splits
            )
        finally:
            extracted.unpersist()

    return (
        pages.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def windowed_counts(events_stream: DataFrame) -> DataFrame:
    """Tumbling 1h counts with 2h watermark (late data dropped past it)."""
    # parquet TIMESTAMP_NTZ → TIMESTAMP: watermarks need an ltz event time
    events_stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        events_stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


def enrich_with_dim(events_stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: every micro-batch joins against the (broadcast)
    dimension snapshot — the streaming twin of the manifest equi-join J1."""
    return events_stream.join(F.broadcast(dim), "user_id", "left")


def dedup_stream(events_stream: DataFrame, within: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with BOUNDED state: duplicates arriving within
    the watermark horizon are dropped, state for older keys is evicted —
    the streaming twin of exact_dedup for at-least-once upstream sources
    (plain dropDuplicates would grow state forever at web scale)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", within)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def impression_click_join(
    impressions: DataFrame, clicks: DataFrame, within: str = "30 minutes"
) -> DataFrame:
    """TRUE stream-stream interval join: clicks attributed to the same
    user's impression within `within`. Both sides carry watermarks and the
    join condition bounds event time on BOTH streams, so the state store
    can evict rows once the watermark passes — the canonical bounded-state
    stream-stream join shape (unbounded conditions would grow state
    forever at 10^12-event scale)."""
    imp = (
        impressions.select(
            F.col("user_id").alias("imp_user"),
            F.col("event_id").alias("imp_id"),
            F.col("ts").cast("timestamp").alias("imp_ts"),
        ).withWatermark("imp_ts", "2 hours")
    )
    clk = (
        clicks.select(
            F.col("user_id").alias("clk_user"),
            F.col("event_id").alias("clk_id"),
            F.col("ts").cast("timestamp").alias("clk_ts"),
        ).withWatermark("clk_ts", "2 hours")
    )
    return imp.join(
        clk,
        F.expr(
            "imp_user = clk_user AND clk_ts >= imp_ts "
            f"AND clk_ts <= imp_ts + interval {within}"
        ),
        "inner",
    ).select("imp_user", "imp_id", "clk_id", "imp_ts", "clk_ts")


_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_tsec", T.LongType()),
        T.StructField("session_id", T.LongType()),
    ]
)
_SESSION_OUT_SCHEMA = (
    "user_id bigint, event_id bigint, session_id bigint"
)

SESSION_GAP_SEC = 1800


def _assign_sessions(
    key: Tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running gap-based session ids per user."""
    if state.exists:
        last_tsec, session_id = state.get
    else:
        last_tsec, session_id = None, 0
    out = []
    for pdf in batches:
        pdf = pdf.sort_values(["tsec", "event_id"])
        for _, row in pdf.iterrows():
            t = int(row["tsec"])
            if last_tsec is None or t - last_tsec > SESSION_GAP_SEC:
                session_id += 1
            last_tsec = t
            out.append((int(row["user_id"]), int(row["event_id"]), session_id))
    state.update((last_tsec, session_id))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "session_id"])


def sessionize_stateful(events_stream: DataFrame) -> DataFrame:
    """applyInPandasWithState sessionization (streaming stateful twin of the
    batch window-based sessionize query)."""
    ev = events_stream.select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("bigint").alias("tsec")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _assign_sessions,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

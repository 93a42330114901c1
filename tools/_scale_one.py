"""Run one parallelism level of the scaling bench in a FRESH process (clean
JVM, no heap/GC carry-over between levels). Prints one JSON line.

Usage: python tools/_scale_one.py <cpus> <corpus_dir> <trials> [shuffle]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    cpus = int(sys.argv[1])
    corpus = sys.argv[2]
    trials = int(sys.argv[3])
    shuffle = len(sys.argv) > 4 and sys.argv[4] == "shuffle"

    from pdf_parser_benchmark_spark.session import get_spark
    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages

    spark = get_spark(
        app_name=f"scale{cpus}",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # zero-shuffle mode: task granularity from input splits; pack at
            # most ~2MB per task so 256 small files → ~130-256 tasks
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    pages = spark.read.parquet(corpus)
    bytes_in = pages.agg(F.sum(F.length("html"))).collect()[0][0]

    def job():
        out = extract_pages(pages, n_splits=64)
        # order-free fold of the per-doc md5 of the canonical JSON
        row = out.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(F.md5("canonical"))).alias("fp"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("err"),
        ).collect()[0]
        return row["n"], row["fp"], row["err"]

    job()  # warm-up
    times = []
    n = fp = err = None
    for _ in range(trials):
        t0 = time.monotonic()
        n, fp, err = job()
        times.append(time.monotonic() - t0)
    spark.stop()
    best = min(times)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "docs": n,
                "errors": err,
                "fingerprint": fp,
                "bytes_in": bytes_in,
                "times_sec": [round(t, 3) for t in times],
                "best_sec": round(best, 3),
                "docs_per_sec": round(n / best, 1),
                "mb_per_sec": round(bytes_in / 1e6 / best, 2),
            }
        )
    )


if __name__ == "__main__":
    main()

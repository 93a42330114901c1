"""W2 — window top-k.

- top_k_per_group: retrieval keep top SIMILARITY_TOP_K
  (/root/reference/src/rag.py:192, k=5 /root/reference/src/config.py:30).

W3 (best+runner-up margin) and U3 (greedy claim) are single windows written
inline in their queries, ``q_best_second_gap`` and ``q_greedy_dedup``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_by: list[Column], k: int
) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


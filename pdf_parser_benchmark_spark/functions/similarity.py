"""Vector + string similarity.

Cosine over `array<float>` columns is pure built-ins (`zip_with` +
`aggregate` — JVM-side, no Python), per the guide's scale rules. difflib
SequenceMatcher.ratio (the reference's fuzzy-match metric,
/root/reference/data/pdfs/rename_pdfs.py:41-43) has no SQL equivalent and
runs as a Series→Series pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F, types as T
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, 0 when either vector is all-zero."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_rounded(a: Column, b: Column, digits: int = 6) -> Column:
    """Rounded for oracle hash-stability (float repr differences)."""
    return F.round(cosine(a, b), digits)


def cosine_rounded_prenormed(
    a: Column, b: Column, norm_a: Column, norm_b: Column, digits: int = 6
) -> Column:
    """cosine_rounded with the two norms already computed (r7 optimization:
    attach `norm()` per SIDE before the pair join so each vector's norm fold
    runs once per row instead of once per pair — the interpreted
    higher-order-function fold is ~2/3 of the per-pair cosine cost).

    Bit-identical to cosine_rounded by construction: norm() on the same
    array yields the same double wherever it is evaluated, the denominator
    is the same product, the dot fold and the rounding are unchanged.

    Only the embedding-cosine dedup scorers (`operators/dedup.py`) use it;
    the kNN searches score through the numpy `knn._cosine_topk`."""
    denom = norm_a * norm_b
    return F.round(
        F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0)), digits
    )


def jaccard_words(a: Column, b: Column) -> Column:
    """Word-set Jaccard over two string columns (built-ins only)."""
    wa = F.array_distinct(F.split(F.lower(F.trim(a)), r"\s+"))
    wb = F.array_distinct(F.split(F.lower(F.trim(b)), r"\s+"))
    inter = F.size(F.array_intersect(wa, wb))
    union = F.size(F.array_union(wa, wb))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Jaccard over two pre-computed (distinct) array columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


@pandas_udf(T.DoubleType())
def seq_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """difflib.SequenceMatcher.ratio (rename_pdfs.py:42-43) — exact
    reference metric for the fuzzy title⋈filename join."""
    from difflib import SequenceMatcher

    return pd.Series(
        [
            SequenceMatcher(None, x or "", y or "").ratio()
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )

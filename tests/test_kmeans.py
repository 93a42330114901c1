"""Deterministic k-means (IVF coarse quantizer) vs an independent numpy
twin implementing the identical algorithm (same init, same tie-breaks, same
per-iteration rounding)."""

import numpy as np
import pytest

from pdf_parser_benchmark_spark.operators.knn import (
    brute_force_topk,
    ivf_topk_kmeans,
    kmeans_fit,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 80"
    )


def _numpy_kmeans(ids, vecs, k, iterations):
    order = np.argsort(ids)
    init_idx = order[:k]
    cents = [np.round(vecs[i].astype(np.float64), 6) for i in init_idx]

    def assign(cents):
        out = {}
        for i, v in zip(ids, vecs):
            d2 = [round(float(((v.astype(np.float64) - c) ** 2).sum()), 9) for c in cents]
            out[int(i)] = int(np.lexsort((np.arange(k), d2))[0])
        return out

    for _ in range(iterations):
        a = assign(cents)
        for cid in range(k):
            members = [v for i, v in zip(ids, vecs) if a[int(i)] == cid]
            if members:
                m = np.mean(np.array(members, dtype=np.float64), axis=0)
                cents[cid] = np.round(m, 6)
    return assign(cents), cents


def test_kmeans_matches_numpy_twin(spark, emb):
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)

    assignment = {
        r["vec_id"]: r["cid"]
        for r in kmeans_fit(emb, "vec_id", "embedding", k=4, iterations=3).collect()
    }
    np_assign, np_cents = _numpy_kmeans(ids, vecs, k=4, iterations=3)
    assert assignment == np_assign

    spark_cents = dict(kmeans_fit.last_centroids)
    for cid in range(4):
        assert np.allclose(spark_cents[cid], np_cents[cid], atol=2e-6)


def test_kmeans_deterministic_across_partitionings(spark, emb):
    a = {r["vec_id"]: r["cid"]
         for r in kmeans_fit(emb.repartition(2), k=4, iterations=3).collect()}
    b = {r["vec_id"]: r["cid"]
         for r in kmeans_fit(emb.repartition(7), k=4, iterations=3).collect()}
    assert a == b


def test_ivf_kmeans_topk_subset_of_bruteforce_corpus(spark, emb):
    from pyspark.sql import functions as F

    queries = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter("vec_id >= 2")
    out = ivf_topk_kmeans(queries, corpus, k=3, nprobe=2, n_lists=4).collect()
    assert len(out) == 6  # 2 queries × top-3
    for r in out:
        assert r["vec_id"] >= 2 and 1 <= r["rank"] <= 3
    # probing all n_lists lists scores exactly the brute-force pairs:
    # identical rows, scores and ranks included
    full = ivf_topk_kmeans(queries, corpus, k=5, nprobe=4, n_lists=4).collect()
    assert sorted(full) == sorted(brute_force_topk(queries, corpus, k=5).collect())


def test_pq_pretrained_index_matches_inline_fit(spark):
    """Production shape (ROADMAP): pq_fit once, persist codebooks+codes,
    serve query batches from the stored index — results are identical to
    the fit-inside-the-call path, including through the re-rank stage."""
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.operators.knn import pq_fit, pq_topk_lut

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)

    cb, enc = pq_fit(corpus, m=4, dim=64, k=16)
    cb, enc = cb.persist(), enc.persist()
    for rerank in (0, 20):
        inline = pq_topk_lut(queries, corpus, k=5, m=4, dim=64, rerank=rerank)
        stored = pq_topk_lut(queries, corpus, k=5, m=4, dim=64, rerank=rerank,
                             codebooks=cb, encoded=enc)
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, stored.collect())
        )
    import pytest

    with pytest.raises(ValueError, match="together"):
        pq_topk_lut(queries, corpus, codebooks=cb)


def test_kmeans_preserves_non_numeric_id_type(spark):
    """ADVICE r5: the assignment pass must carry the id column through
    untouched — string ids come back as the same strings (the former
    cast('long') silently nulled them)."""
    import random

    rng = random.Random(11)
    rows = [
        (f"doc-{i:03d}", [float(rng.uniform(-1, 1)) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    out = kmeans_fit(df, "doc_id", "embedding", k=3, iterations=2)
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {r["doc_id"] for r in out.collect()}
    assert got == {f"doc-{i:03d}" for i in range(40)}

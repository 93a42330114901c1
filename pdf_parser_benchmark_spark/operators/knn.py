"""J4/W2 — k-NN retrieval over an embedding column, plus the scale path.

- brute-force: the query side (bounded, collected to the driver) ships in
  the task closure and one numpy pass over the corpus scores every
  (query, vector) pair (`_cosine_topk`), then a window keeps the top k.
  Exact; right answer at any scale where |queries|×|corpus| narrow scored
  rows fit — the reference's own ANN config falls back to full scan below
  10k vectors (reference docs/INFRASTRUCTURE.md:227-244).
- IVF: coarse quantizer = centroid per partition key (here: per `label`,
  the testdata's natural cluster id; or k-means lists). Probe = nearest
  `nprobe` centroids per query; the |Q|·nprobe probe rows are collected
  and the same numpy pass scores each query against the rows of its
  probed lists only — no pair join, the corpus is never shuffled.

Top-k ties break on vec_id ascending for determinism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..fixed_order import fixed_order_matmul
from ..functions.similarity import cosine_rounded


def _scored_topk(
    scored: DataFrame, k: int, query_id: str, corpus_id: str
) -> DataFrame:
    """Exact top-k per query over a scored pair stream: one window ranked
    by (score desc, corpus_id asc). A salted two-level variant (per-slice,
    then global top-k) was no faster at 100k corpus rows per query, so the
    plan with one exchange fewer stays."""
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(corpus_id))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id, corpus_id, "score", F.col("rn").alias("rank"))
    )


def _np_fold(A, B):
    """Per row, Σ_i A[:, i]·B[:, i] the way Spark's `aggregate` folds a
    `zip_with` product: each product in the operands' dtype (float32 ×
    float32 stays float32), widened to double, summed from 0.0 in element
    order. B may be a single (1, L) row broadcast against A."""
    import numpy as np

    acc = np.zeros(len(A))
    for i in range(A.shape[1]):
        acc += (A[:, i] * B[:, i]).astype(np.float64)
    return acc


def _is_f32(df: DataFrame, vec_col: str) -> bool:
    return df.schema[vec_col].dataType.elementType.simpleString() == "float"


def _cosine_topk(
    corpus: DataFrame,
    Q: list,
    k: int,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    list_of=None,
) -> DataFrame:
    """The one cosine scorer behind brute_force_topk, ivf_topk and
    ivf_topk_kmeans. `Q` is a driver-side list of (qid, qvec, list id); an
    entry scores against every corpus row when its list id is None, else
    only against the rows `list_of(batch)` puts in that list (the pairs a
    probe ⋈ corpus join on the list id would make). `queries` supplies the
    qid and vector types. ONE mapInPandas pass over the caller's corpus
    projection emits narrow (qid, id, raw score) rows; the JVM rounds
    (`F.round`) and `_scored_topk` keeps the top k.

    Value-exact vs `cosine_rounded` by operation-for-operation replication:
    each side's norm squares in its own element type (`_np_fold` =
    `norm()`); the dot multiplies in float32 only when both sides are
    float32 (Spark widens float×double); IEEE sqrt/divide; NaN > 0 is
    true. A null vector scores 0.0; a length mismatch scores NULL when the
    denominator is live (`zip_with` pads with nulls). Each Arrow batch is
    grouped by vector length, so a ragged row stays vectorized — pinned by
    test_brute_force_numpy_matches_expression_path."""
    q_f32, c_f32 = _is_f32(queries, query_vec), _is_f32(corpus, corpus_vec)
    qid_t = queries.schema[query_id].dataType.simpleString()
    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    Q = [tuple(e) for e in Q]  # Rows pickle as plain tuples

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        f32, f64 = _np.float32, _np.float64
        both_f32 = q_f32 and c_f32
        qids = _pd.Series([e[0] for e in Q])
        qprep = []  # (qvec in the dot dtype, qnorm, list id)
        for _, q, lst in Q:
            qa = qn = None
            if q is not None:
                qa = _np.asarray(q, dtype=f32 if q_f32 else f64)[None, :]
                qn = float(_np.sqrt(_np_fold(qa, qa)[0]))
                qa = qa if both_f32 else qa.astype(f64)
            qprep.append((qa, qn, lst))

        def score(V, CN, qa, qn):
            m = len(CN)
            if qa is None or V is None:  # null query or null corpus vectors
                return _np.zeros(m), _np.zeros(m, dtype=_np.int8)
            denom = qn * CN
            live = (denom > 0) | _np.isnan(denom)
            if V.shape[1] != qa.shape[1]:
                # null dot through a taken when-branch → NULL score
                return _np.zeros(m), _np.where(live, 1, 0).astype(_np.int8)
            with _np.errstate(divide="ignore", invalid="ignore"):
                sc = _np.where(live, _np_fold(V, qa) / denom, 0.0)
            isn = _np.isnan(sc)
            return _np.where(isn, 0.0, sc), _np.where(isn, 2, 0).astype(_np.int8)

        # Arrow's pandas conversion folds NaN into null, so nullness and
        # NaN-ness travel in an explicit `kind` column (0 = use score,
        # 1 = NULL, 2 = NaN) and the JVM reconstructs the exact value
        for b in batches:
            if not len(b):
                continue
            vs = b[corpus_vec].to_numpy()
            lens = _np.array([-1 if v is None else len(v) for v in vs])
            # blocks[list id] = [(rows, V in the dot dtype, norms)], one
            # entry per vector length (-1 = null vectors, V=None)
            if list_of is None:
                by_len = _pd.Series(lens).groupby(lens).indices
                keyed = ((None, L, rows) for L, rows in by_len.items())
            else:
                by_list = _pd.DataFrame(
                    {"l": list_of(b), "n": lens}
                ).groupby(["l", "n"]).indices
                keyed = ((lst, L, rows) for (lst, L), rows in by_list.items())
            blocks: dict = {}
            for lst, L, rows in keyed:
                V, CN = None, _np.zeros(len(rows))
                if L >= 0:
                    V = _np.stack(list(vs[rows])).astype(f32 if c_f32 else f64)
                    CN = _np.sqrt(_np_fold(V, V))
                    V = V if both_f32 else V.astype(f64)
                blocks.setdefault(lst, []).append((rows, V, CN))
            out = [
                (_np.full(len(rows), e), rows, *score(V, CN, qa, qn))
                for e, (qa, qn, lst) in enumerate(qprep)
                for rows, V, CN in blocks.get(lst, ())
            ]
            if not out:
                continue
            pick, rows, sc, kind = (_np.concatenate(c) for c in zip(*out))
            yield _pd.DataFrame({
                "__qid": qids.take(pick).reset_index(drop=True),
                "__cid": b[corpus_id].take(rows).reset_index(drop=True),
                "score": sc,
                "kind": kind,
            })

    scored = (
        corpus.mapInPandas(
            gen, f"__qid {qid_t}, __cid {cid_t}, score double, kind tinyint"
        )
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            F.round(
                F.when(F.col("kind") == 1, F.lit(None).cast("double"))
                .when(F.col("kind") == 2, F.lit(float("nan")))
                .otherwise(F.col("score")),
                6,
            ).alias("score"),
        )
    )
    return _scored_topk(scored, k, query_id, corpus_id)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Exact k-NN: the query vectors (a bounded driver collect that stops
    at `max_queries` + 1 rows, like ivfpq's query side) ship in the task
    closure and `_cosine_topk` scores every (query, corpus row) pair in
    one numpy pass, then keeps the exact top k. No pair join, which would
    copy two full vectors per pair only to fold a dot product."""
    qrows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk: more than max_queries={max_queries} query "
            "rows; raise the limit explicitly for bigger batches (the query "
            "side is collected to the driver)"
        )
    Q = [(q_id, q, None) for q_id, q in qrows]
    return _cosine_topk(corpus.select(corpus_id, corpus_vec), Q, k, queries,
                        query_id, query_vec, corpus_id, corpus_vec)


def centroids_by(
    corpus: DataFrame, list_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Inverted-list centroids: element-wise mean via posexplode+groupBy —
    all built-ins, partial-aggregated."""
    exploded = corpus.select(
        F.col(list_col), F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    return (
        exploded.groupBy(list_col, "dim")
        .agg(F.avg("v").alias("mv"))
        .groupBy(list_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                lambda s: s["mv"].cast("float"),
            ).alias("centroid")
        )
    )


def l2_sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _exact_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    cands: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """Shared two-stage tail: fetch only the candidates' full vectors
    (broadcast semi-shape — Q·rerank rows, never the corpus), score exact
    cosine, return the exact top k with (desc score, asc id) tie-break.
    Used by `_adc_scan` and opq_topk, so every ADC search re-ranks by the
    same rounding and tie rules."""
    pool = corpus.join(
        F.broadcast(cands), corpus_id
    ).join(
        F.broadcast(queries.select(query_id, query_vec)), query_id
    )
    exact = pool.withColumn(
        "score", cosine_rounded(F.col(query_vec), F.col(corpus_vec))
    )
    return _scored_topk(exact, k, query_id, corpus_id)


def _np_nearest(vecs32, cents32):
    """numpy twin of the relational nearest-centroid assignment, matching
    l2_sq + F.round + (d2 asc, cid asc) bit-for-bit in the cases that
    matter: float32 elementwise squared diffs (zip_with over array<float>),
    float64 SEQUENTIAL fold (F.aggregate from lit(0.0)), HALF_UP round to
    9 on the binary value (F.round semantics up to shortest-decimal-repr
    midpoint corner cases), argmin with ties to the lowest cid
    (np.argmin's first occurrence). Pinned against the JVM path by
    tests/test_kmeans.py's independent twin and the pq/ivf pinned oracles."""
    import numpy as np

    n, dim = vecs32.shape
    d2 = np.zeros((n, cents32.shape[0]))
    for i in range(dim):
        diff = vecs32[:, i, None] - cents32[None, :, i]  # float32, as zip_with
        d2 += (diff * diff).astype(np.float64)           # widen after f32 mult
    d2 = np.floor(d2 * 1e9 + 0.5) / 1e9                  # HALF_UP to 9
    return np.argmin(d2, axis=1)


def _round6_f32(mean_vec) -> list[float]:
    """F.round(x, 6) then cast to array<float>, replicated: HALF_UP on the
    shortest-decimal repr (BigDecimal.valueOf semantics), then a float32
    narrowing."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q6 = Decimal("1e-6")
    return [
        float(np.float32(float(Decimal(repr(float(x))).quantize(q6, ROUND_HALF_UP))))
        for x in mean_vec
    ]


def kmeans_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 4,
) -> DataFrame:
    """Deterministic Lloyd's k-means, fully vectorized: each iteration is
    ONE numpy mapInPandas pass over the corpus — per Arrow batch the
    centroids (shipped in the closure: k·dim floats) are assigned with
    `_np_nearest` and the per-cluster partial sums are accumulated with
    np.add.at, so only k bounded rows reach the driver, which combines and
    rounds the means HALF_UP to 6 decimals + float32 (`_round6_f32`).

    Init = the k lowest-id vectors rounded to 6; fixed iteration count, no
    data-dependent stopping — reruns and different partitionings produce
    identical centroids. Empty clusters keep their previous centroid.

    Returns the assignment DataFrame (id, cid) — centroids are in
    `kmeans_fit.last_centroids` after the call (list of (cid, [floats])).
    """
    import numpy as np

    init = [
        (i, [round(float(v), 6) for v in r[vec_col]])
        for i, r in enumerate(
            corpus.orderBy(id_col).limit(k).collect()
        )
    ]
    centroids = init
    # the pandas pass never computes on the id: any id type passes through
    id_type = corpus.schema[id_col].dataType.simpleString()
    vecs_df = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )

    def _partials_pass(cvals):
        C = np.asarray(cvals, dtype=np.float32)

        def gen(batches):
            import numpy as _np
            import pandas as _pd

            for b in batches:
                if not len(b):
                    continue
                vecs = _np.stack(b["__v"].to_numpy()).astype(_np.float32)
                cid = _np_nearest(vecs, C)
                acc = _np.zeros((k, vecs.shape[1]))
                cnt = _np.zeros(k, dtype=_np.int64)
                _np.add.at(acc, cid, vecs.astype(_np.float64))
                _np.add.at(cnt, cid, 1)
                nz = _np.nonzero(cnt)[0]
                yield _pd.DataFrame(
                    {"cid": nz, "n": cnt[nz], "sums": [acc[i] for i in nz]}
                )

        return vecs_df.mapInPandas(gen, "cid int, n long, sums array<double>")

    for _ in range(iterations):
        tot: dict[int, np.ndarray] = {}
        cnt: dict[int, int] = {}
        for r in _partials_pass([v for _, v in centroids]).collect():
            c = int(r["cid"])
            s = np.asarray(r["sums"], dtype=np.float64)
            tot[c] = tot[c] + s if c in tot else s
            cnt[c] = cnt.get(c, 0) + int(r["n"])
        centroids = [
            (cid, _round6_f32(tot[cid] / cnt[cid]) if cid in tot else vec)
            for cid, vec in centroids
        ]

    kmeans_fit.last_centroids = centroids
    Cfinal = np.asarray([v for _, v in centroids], dtype=np.float32)

    def assign_gen(batches):
        import numpy as _np
        import pandas as _pd

        for b in batches:
            if not len(b):
                continue
            vecs = _np.stack(b["__v"].to_numpy()).astype(_np.float32)
            yield _pd.DataFrame({
                "__id": b["__id"],
                "cid": _np_nearest(vecs, Cfinal).astype(_np.int32),
            })

    return vecs_df.mapInPandas(assign_gen, f"__id {id_type}, cid int").select(
        F.col("__id").alias(id_col), "cid"
    )


def ivf_topk_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_lists: int = 4,
    iterations: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """IVF with a k-means coarse quantizer: fit lists, probe the nprobe
    nearest centroids per query, exact-search only the probed lists. The
    scoring pass assigns each vector its list itself (`_np_nearest`
    against the final centroids, as kmeans_fit's assignment does)."""
    import numpy as np

    spark = corpus.sparkSession
    kmeans_fit(corpus, corpus_id, corpus_vec, k=n_lists, iterations=iterations)
    C = np.asarray([v for _, v in kmeans_fit.last_centroids], dtype=np.float32)
    cents = spark.createDataFrame(
        kmeans_fit.last_centroids, "cid int, centroid array<float>"
    )
    q2c = queries.crossJoin(F.broadcast(cents)).withColumn(
        "d2", F.round(l2_sq(F.col(query_vec), F.col("centroid")), 9)
    )
    wq = Window.partitionBy(query_id).orderBy(F.asc("d2"), F.asc("cid"))
    probed = (
        q2c.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id, query_vec, "cid")
    )

    def list_of(b):
        vecs = np.stack(b[corpus_vec].to_numpy()).astype(np.float32)
        return _np_nearest(vecs, C)

    return _cosine_topk(corpus.select(corpus_id, corpus_vec), probed.collect(),
                        k, queries, query_id, query_vec, corpus_id,
                        corpus_vec, list_of)


def _integral_ids(who: str, *frames: tuple[DataFrame | None, str]) -> None:
    """ADC ranks int64 ids (the code stream's pqid): a query or corpus id
    column of another type raises here, before the fit or any job."""
    from pyspark.sql.types import IntegralType

    for df, col in frames:
        t = df.schema[col].dataType if df is not None else None
        if t is not None and not isinstance(t, IntegralType):
            raise ValueError(f"{who}: id column {col!r} is {t.simpleString()}, "
                             "not an integral type")


def pq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    k: int = 16,
    iterations: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al. 2011, public literature): split
    each vector into m subspaces, k-means each subspace independently
    (deterministic Lloyd's — same quantizer as kmeans_fit), encode every
    vector as m code ids. Compresses dim floats → m bytes; probe bandwidth
    drops dim·4/m per vector (the IVF refinement named in ROADMAP).

    → (codebooks (s, cid, centroid array<float>), encoded (pqid, c0..c{m-1})).

    Training is joint across subspaces: each Lloyd iteration is ONE numpy
    mapInPandas pass — per Arrow batch, vectors are sliced into their m
    subvectors, assigned with `_np_nearest` against the closure-shipped
    codebooks and reduced to (s, cid) partial sums, so only m·k rows reach
    the driver; a second numpy scan emits the codes. Per subspace: init =
    the k lowest-id vectors' slices rounded to 6, squared L2 rounded to 9
    with ties to the lowest cid, means via `_round6_f32`; empty clusters
    keep their previous centroid. The id must be integral (`pqid`)."""
    _integral_ids("pq_fit", (corpus, id_col))
    spark = corpus.sparkSession
    sub = dim // m

    init_rows = corpus.orderBy(id_col).limit(k).collect()
    cents: dict[tuple[int, int], list[float]] = {}
    for cid, r in enumerate(init_rows):
        full = [round(float(v), 6) for v in r[vec_col]]
        for s in range(m):
            cents[(s, cid)] = full[s * sub : (s + 1) * sub]

    import numpy as np

    vecs_df = corpus.select(
        F.col(id_col).cast("long").alias("pqid"), F.col(vec_col).alias("__v")
    )

    def _partials_pass(cc: dict) -> DataFrame:
        # all m subspaces in ONE numpy pass per iteration: per batch, slice
        # each vector into its m subvectors, `_np_nearest` against that
        # subspace's codebook, np.add.at partial sums keyed (s, cid) —
        # m·k bounded rows reach the driver; zero shuffle, zero explode.
        C = np.asarray(
            [[cc[(s, cid)] for cid in range(k)] for s in range(m)],
            dtype=np.float32,
        )

        def gen(batches):
            import numpy as _np
            import pandas as _pd

            for b in batches:
                if not len(b):
                    continue
                vecs = _np.stack(b["__v"].to_numpy()).astype(_np.float32)
                acc = _np.zeros((m, k, sub))
                cnt = _np.zeros((m, k), dtype=_np.int64)
                for s in range(m):
                    sv = vecs[:, s * sub : (s + 1) * sub]
                    cid = _np_nearest(sv, C[s])
                    _np.add.at(acc[s], cid, sv.astype(_np.float64))
                    _np.add.at(cnt[s], cid, 1)
                ss, cs = _np.nonzero(cnt)
                yield _pd.DataFrame(
                    {
                        "s": ss,
                        "cid": cs,
                        "n": cnt[ss, cs],
                        "sums": [acc[a, b_] for a, b_ in zip(ss, cs)],
                    }
                )

        return vecs_df.mapInPandas(
            gen, "s int, cid int, n long, sums array<double>"
        )

    for _ in range(iterations):
        tot: dict[tuple[int, int], np.ndarray] = {}
        cnt: dict[tuple[int, int], int] = {}
        for r in _partials_pass(cents).collect():
            key = (int(r["s"]), int(r["cid"]))
            sm = np.asarray(r["sums"], dtype=np.float64)
            tot[key] = tot[key] + sm if key in tot else sm
            cnt[key] = cnt.get(key, 0) + int(r["n"])
        cents = {
            key: _round6_f32(tot[key] / cnt[key]) if key in tot else vec
            for key, vec in cents.items()
        }

    cb = spark.createDataFrame(
        [(s, cid, vec) for (s, cid), vec in sorted(cents.items())],
        "s int, cid int, centroid array<float>",
    )

    # encode pass: (pqid, c0..c{m-1}) directly from one numpy scan — no
    # explode, no groupBy pivot
    Cfinal = np.asarray(
        [[cents[(s, cid)] for cid in range(k)] for s in range(m)],
        dtype=np.float32,
    )

    def encode_gen(batches):
        import numpy as _np
        import pandas as _pd

        for b in batches:
            if not len(b):
                continue
            vecs = _np.stack(b["__v"].to_numpy()).astype(_np.float32)
            cols = {"pqid": b["pqid"].to_numpy()}
            for s in range(m):
                cols[f"c{s}"] = _np_nearest(
                    vecs[:, s * sub : (s + 1) * sub], Cfinal[s]
                ).astype(_np.int32)
            yield _pd.DataFrame(cols)

    enc = vecs_df.mapInPandas(
        encode_gen,
        "pqid long, " + ", ".join(f"c{s} int" for s in range(m)),
    )
    return cb, enc


def _adc_queries(who: str, queries: DataFrame, corpus: DataFrame | None,
                 encoded: DataFrame, k: int, rerank: int, max_queries: int,
                 query_id: str, query_vec: str, corpus_id: str):
    """The query side of every ADC search → (qids, Q, None), or
    (None, None, the typed empty result) when `queries` has no rows.

    Queries are the bounded side: the collect stops at max_queries + 1
    rows, so an unbounded query side raises here before it can
    materialize on the driver. The empty result takes its id types from
    the queries frame and from the corpus (else the code stream's pqid),
    and names its score column as the non-empty result would."""
    import numpy as np

    qrows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{who} queries side exceeds max_queries={max_queries}; the "
            "query side is collected to the driver — batch it or raise "
            "max_queries explicitly"
        )
    if qrows:
        qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
        Q = np.array([[np.float32(v) for v in r[1]] for r in qrows],
                     dtype=np.float32)
        return qids, Q, None
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    ids = (corpus.schema[corpus_id] if corpus is not None
           else encoded.schema["pqid"])
    empty = encoded.sparkSession.createDataFrame([], StructType([
        StructField(query_id, queries.schema[query_id].dataType),
        StructField(corpus_id, ids.dataType),
        StructField("score" if rerank > k else "adc", DoubleType()),
        StructField("rank", IntegerType()),
    ]))
    return None, None, empty


def _codebook_array(codebooks: DataFrame, m: int, codes: int, sub: int):
    """pq_fit's (s, cid, centroid) rows as one (m, codes, sub) float32 array."""
    import numpy as np

    CB = np.zeros((m, codes, sub), dtype=np.float32)
    for r in codebooks.collect():
        CB[r["s"], r["cid"]] = np.asarray(r["centroid"], dtype=np.float32)
    return CB


def _adc_scan(queries: DataFrame, corpus: DataFrame | None,
              encoded: DataFrame, qids, D, slot, list_col: str | None, k: int,
              rerank: int, query_id: str, query_vec: str, corpus_id: str,
              corpus_vec: str) -> DataFrame:
    """The one ADC scanner behind pq_topk_lut (so opq_topk) and
    ivfpq_topk. D[q, j, s, c]: query q's table for its j-th probe slot,
    subvector s against code c; slot[q, l]: the slot of list l for q, −1
    if q does not probe l. PQ is the one-list case (list_col None); for
    IVF-PQ the probed lists reach the scan as a pushed `list_col IN (...)`
    filter, so a code stream partitioned by list skips unprobed partitions.

    The tables ship in the mapInPandas closure; packed codes never unpack.
    Per Arrow batch (rows sorted by pqid) and query, each probed row scores
    Σ_s D[q, slot, s, code_s] summed in subspace order from 0.0, rounded
    HALF_UP to 6 on the binary value (distances are non-negative), and a
    stable argsort keeps the batch's top R = max(k, rerank), ties to the
    lowest pqid — every global top-R row survives any batching, so output
    is partitioning-invariant. Only that candidate stream shuffles, into
    one ascending window (`_scored_topk` ranks descending). rerank > k
    hands the top `rerank` to `_exact_rerank`, which needs `corpus`."""
    import numpy as np

    if rerank > k and corpus is None:
        raise ValueError("rerank needs the corpus vectors")
    nq, _, m, _ = D.shape
    R = max(k, rerank)
    code_cols = [f"c{s}" for s in range(m)]

    def scan(batches):
        import numpy as _np
        import pandas as _pd

        for b in batches:
            if not len(b):
                continue
            ids = b["pqid"].to_numpy(dtype=_np.int64)
            order = _np.argsort(ids, kind="stable")       # id-asc tie-break
            ids = ids[order]
            lists = (
                _np.zeros(len(ids), dtype=_np.int64) if list_col is None
                else b[list_col].to_numpy(dtype=_np.int64)[order]
            )
            C = _np.stack(
                [b[c].to_numpy(dtype=_np.int64)[order] for c in code_cols],
                axis=1,
            )
            out_q, out_id, out_d = [], [], []
            for qi in range(nq):
                sel = slot[qi][lists]                     # (n,) probe slot
                mask = sel >= 0
                if not mask.any():
                    continue
                sl, Cm = sel[mask], C[mask]
                adc = _np.zeros(len(sl), dtype=_np.float64)
                for s in range(m):
                    adc += D[qi, sl, s, Cm[:, s]]
                adc = _np.floor(adc * 1e6 + 0.5) / 1e6    # HALF_UP to 6
                top = _np.argsort(adc, kind="stable")[:R]
                out_q.append(_np.full(len(top), qids[qi]))
                out_id.append(ids[mask][top])
                out_d.append(adc[top])
            if not out_q:
                continue
            yield _pd.DataFrame(
                {
                    "qid_": _np.concatenate(out_q),
                    "pqid": _np.concatenate(out_id),
                    "adc": _np.concatenate(out_d),
                }
            )

    stream = encoded.select("pqid", *code_cols)
    if list_col is not None:
        probed = np.flatnonzero((slot >= 0).any(axis=0)).tolist()
        stream = encoded.select("pqid", list_col, *code_cols).filter(
            F.col(list_col).isin(probed)
        )
    cand = stream.mapInPandas(
        scan, "qid_ long, pqid long, adc double"
    ).withColumnRenamed("qid_", query_id)
    w = Window.partitionBy(query_id).orderBy(F.asc("adc"), F.asc("pqid"))
    ranked = cand.withColumn("rn", F.row_number().over(w))
    if rerank <= k:
        return ranked.filter(F.col("rn") <= k).select(
            query_id, F.col("pqid").alias(corpus_id), "adc",
            F.col("rn").alias("rank")
        )
    cands = ranked.filter(F.col("rn") <= rerank).select(
        query_id, F.col("pqid").alias(corpus_id)
    )
    return _exact_rerank(queries, corpus, cands, k, query_id, query_vec,
                         corpus_id, corpus_vec)


def pq_topk_lut(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 3,
    m: int = 4,
    dim: int = 64,
    codes: int = 16,
    iterations: int = 3,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    rerank: int = 0,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """PQ top-k via asymmetric distance computation (ADC, Jégou et al.
    2011): per query, the m×codes table of subspace distances to the
    codebook, computed driver-side; `_adc_scan` (one list) ranks every
    vector by its summed table lookups, so the corpus side ships only its
    m byte codes. The tables equal SQL `round(l2_sq(q_s, centroid), 9)`
    value for value: float32 elementwise squared diff, float64 sequential
    fold from 0.0, Spark's HALF_UP decimal round (BigDecimal.valueOf
    semantics via Decimal(repr(x))) — test_pq_lut_matches_relational_adc
    pins the result to that explode+join+groupBy ADC on a shared fit.

    rerank > k: exact cosine re-rank of the top `rerank` ADC candidates
    (the standard two-stage PQ search); the schema becomes
    (qid, vec_id, score, rank) like the exact paths. codebooks/encoded:
    pq_fit's outputs, to skip the in-call fit — train once, persist, serve
    every query batch. queries are the bounded side (`_adc_queries`)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    sub = dim // m
    _integral_ids("pq_topk_lut", (queries, query_id), (corpus, corpus_id))
    if (codebooks is None) != (encoded is None):
        raise ValueError("pass codebooks and encoded together")
    if codebooks is None:
        if corpus is None:
            raise ValueError("pass corpus or a prebuilt (codebooks, encoded)")
        cb, enc = pq_fit(corpus, corpus_id, corpus_vec, m=m, dim=dim,
                         k=codes, iterations=iterations)
    else:
        cb, enc = codebooks, encoded

    qids, Q, empty = _adc_queries(
        "pq_topk_lut", queries, corpus, enc, k, rerank, max_queries,
        query_id, query_vec, corpus_id,
    )
    if empty is not None:
        return empty
    CB = _codebook_array(cb, m, codes, sub)

    nq = len(qids)
    D = np.zeros((nq, 1, m, codes), dtype=np.float64)
    q9 = Decimal("1e-9")
    for s in range(m):
        qs = Q[:, s * sub : (s + 1) * sub]
        diff = qs[:, None, :] - CB[s][None, :, :]        # float32, as zip_with
        sq = (diff * diff).astype(np.float64)            # widen after f32 mult
        acc = np.zeros((nq, codes), dtype=np.float64)
        for i in range(sub):                             # sequential fold
            acc = acc + sq[:, :, i]
        for qi in range(nq):
            for ci in range(codes):
                D[qi, 0, s, ci] = float(
                    Decimal(repr(float(acc[qi, ci]))).quantize(q9, ROUND_HALF_UP)
                )
    slot = np.zeros((nq, 1), dtype=np.int64)
    return _adc_scan(queries, corpus, enc, qids, D, slot, None, k, rerank,
                     query_id, query_vec, corpus_id, corpus_vec)


_NS_STEPS = 50  # σ/‖M‖_F ≳ 1e-8 reaches 1; σ/‖M‖_F ≲ 1e-15 stays < 1e-6


def _partial_isometry(M):
    """U₊V₊ᵀ over M's well-conditioned singular directions, without
    LAPACK: `_NS_STEPS` Newton–Schulz steps Y ← ½·Y·(3I − YᵀY) from
    Y₀ = M/‖M‖_F (singular values in (0, 1]; each step maps σ → σ(3 − σ²)/2
    and keeps the singular vectors). Directions where M is zero up to
    rounding stay near 0; the closing Y·YᵀY cubes them away."""
    import numpy as np

    Y = M / np.sqrt(np.sum(M * M))
    three_i = 3.0 * np.eye(len(M))
    for _ in range(_NS_STEPS):
        Y = 0.5 * fixed_order_matmul(Y, three_i - fixed_order_matmul(Y.T, Y))
    return fixed_order_matmul(Y, fixed_order_matmul(Y.T, Y))


def _procrustes(M, R_prev):
    """The orthogonal R maximizing tr(RᵀM) (orthogonal Procrustes): the
    polar factor UVᵀ of M = UΣVᵀ, from fixed-order products only.

    When M is rank-deficient the maximizer is not unique: any R = U₊V₊ᵀ +
    U₀QV₀ᵀ with Q orthogonal on M's null directions ties. OPQ hits this by
    construction whenever codes ≤ dim/m (each subspace's centroids then
    reproduce a constant column, so the reconstruction X̂ loses m − 1
    ranks), and SVD's choice of Q there is whatever its kernel's rounding
    gives. Here the tie goes to the maximizer nearest R_prev (the previous
    rotation): Q is the polar factor of U₀ᵀ·R_prev·V₀, computed as that of
    (I − U₊U₊ᵀ)·R_prev·(I − V₊V₊ᵀ). Raises ValueError when no orthogonal R
    comes out: M ill-conditioned between those regimes, or R_prev
    degenerate on the null directions."""
    import numpy as np

    eye = np.eye(len(M))
    R = _partial_isometry(M)
    P_v = fixed_order_matmul(R.T, R)
    if len(M) - np.trace(P_v) > 0.5:  # M has null directions
        P_u = fixed_order_matmul(R, R.T)
        R = R + _partial_isometry(
            fixed_order_matmul(fixed_order_matmul(eye - P_u, R_prev), eye - P_v)
        )
    err = np.abs(fixed_order_matmul(R.T, R) - eye).max()
    if not err <= 1e-9:  # NaN too (an all-zero M)
        raise ValueError(
            "OPQ Procrustes step found no orthogonal rotation: XᵀX̂ is too "
            f"ill-conditioned (max |RᵀR − I| = {err:.3g} after "
            f"{_NS_STEPS} Newton–Schulz steps)"
        )
    return R


def opq_rotation(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    codes: int = 16,
    opq_iterations: int = 5,
    sample_n: int = 10_000,
):
    """Learn the OPQ rotation (Ge et al., CVPR 2013 — public literature):
    an orthogonal R such that PQ on R·x has lower quantization error than
    PQ on x, closing the gap when variance/correlation straddles subspace
    boundaries (VERDICT r4 "missing" item: no OPQ rotation before PQ).

    Non-parametric alternating optimization, DRIVER-side on a bounded
    deterministic sample (the sample_n lowest-id vectors — a TakeOrdered at
    any corpus scale; sample_n·dim floats ≈ a few MB):
      repeat: PQ-fit the rotated sample (numpy Lloyd's, same
      lowest-id-init/first-occurrence-argmin discipline as kmeans_fit) →
      reconstruct X̂ from codes → R ← UVᵀ, the polar factor of XᵀX̂
      (orthogonal Procrustes, `_procrustes`).
    Deterministic: fixed sample, fixed iteration counts, and every product
    is `fixed_order_matmul` — no BLAS or LAPACK call, whose kernel (and so
    whose last bit, and so the PQ argmins that follow) depends on the CPU.

    Returns R as a (dim, dim) float32 numpy array (broadcast by value in
    closures downstream). Raises ValueError on a sample of fewer than dim
    vectors (it leaves directions no data constrains) and when a
    Procrustes step finds no orthogonal R (`_procrustes`)."""
    import numpy as np

    sub = dim // m
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)  # (n, dim)
    if len(X) < dim:
        raise ValueError(
            f"OPQ needs a sample of at least dim={dim} vectors to determine "
            f"a rotation; the corpus gave {len(X)}"
        )
    R = np.eye(dim)

    def _pq_sample_fit(Z):
        recon = np.empty_like(Z)
        for s in range(m):
            zs = Z[:, s * sub : (s + 1) * sub]
            cents = zs[:codes].copy()  # lowest-sample-order init
            for _ in range(3):
                d2 = ((zs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
                a = np.argmin(d2, axis=1)
                for c in range(codes):
                    mask = a == c
                    if mask.any():
                        cents[c] = zs[mask].mean(axis=0)
            d2 = ((zs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            recon[:, s * sub : (s + 1) * sub] = cents[np.argmin(d2, axis=1)]
        return recon

    for _ in range(opq_iterations):
        recon = _pq_sample_fit(fixed_order_matmul(X, R))
        R = _procrustes(fixed_order_matmul(X.T, recon), R)
    return R.astype(np.float32)


def rotate_vectors(
    df: DataFrame, R, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """x → x·R per row vector, as the OPQ fit rotates its sample (numpy
    mapInPandas over Arrow batches; R ships in the closure — dim² floats).
    float32 in/out, matching the embedding column type; the product is
    `fixed_order_matmul`, so the rotated bits do not depend on the CPU."""
    import numpy as np

    out_col = out_col or vec_col
    R32 = np.asarray(R, dtype=np.float32)
    others = [c for c in df.columns if c != vec_col]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != vec_col
    ) + f", {out_col} array<float>"

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        for b in batches:
            if not len(b):
                continue
            vecs = _np.stack(b[vec_col].to_numpy()).astype(_np.float32)
            rot = fixed_order_matmul(vecs, R32)
            data = {c: b[c] for c in others}
            data[out_col] = list(rot)
            yield _pd.DataFrame(data)

    return df.mapInPandas(gen, schema)


def opq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    m: int = 4,
    dim: int = 64,
    codes: int = 16,
    iterations: int = 3,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    rerank: int = 0,
    opq_iterations: int = 5,
    sample_n: int = 10_000,
    rotation=None,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """OPQ two-stage search: learn R (opq_rotation), PQ-index the ROTATED
    corpus (pq_fit — train once, like PQ), ADC-scan rotated queries via
    the broadcast-LUT path, then exact-rerank the candidates on the
    ORIGINAL vectors (R is orthogonal, so original-space cosine is the
    correct final score and needs no corpus rotation at query time).
    rotation/codebooks/encoded: pass a prebuilt index to skip the fit —
    a prebuilt (codebooks, encoded) REQUIRES the rotation they were
    encoded under (review finding: silently re-learning R here would score
    codes in a mismatched rotation and collapse recall with no error)."""
    if (codebooks is None) != (encoded is None):
        raise ValueError("pass codebooks and encoded together")
    if codebooks is not None and rotation is None:
        raise ValueError(
            "a prebuilt (codebooks, encoded) index requires the rotation it "
            "was encoded under — pass rotation= from the same opq fit"
        )
    _integral_ids("opq_topk", (queries, query_id), (corpus, corpus_id))
    if rotation is None:
        rotation = opq_rotation(
            corpus, corpus_id, corpus_vec, m=m, dim=dim, codes=codes,
            opq_iterations=opq_iterations, sample_n=sample_n,
        )
    if codebooks is None:
        rot_corpus = rotate_vectors(
            corpus.select(corpus_id, corpus_vec), rotation, corpus_vec
        )
        cb, enc = pq_fit(rot_corpus, corpus_id, corpus_vec, m=m, dim=dim,
                         k=codes, iterations=iterations)
    else:
        cb, enc = codebooks, encoded
    rot_queries = rotate_vectors(
        queries.select(query_id, query_vec), rotation, query_vec
    )
    cands = pq_topk_lut(
        rot_queries, None, k=max(k, rerank), m=m, dim=dim, codes=codes,
        query_id=query_id, query_vec=query_vec, corpus_id=corpus_id,
        codebooks=cb, encoded=enc,
    )
    if rerank <= k:
        # no exact stage requested: ADC ranking is the result (adc scores
        # are in rotated space, which preserves L2 — keep the schema)
        return cands
    return _exact_rerank(queries, corpus, cands.select(query_id, corpus_id),
                         k, query_id, query_vec, corpus_id, corpus_vec)


def ivfpq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 4,
    m: int = 4,
    dim: int = 64,
    codes: int = 16,
    coarse_iterations: int = 4,
    pq_iterations: int = 3,
):
    """Build the composed IVF×PQ index (Jégou et al. 2011 §IV — the FAISS
    IVFPQ layout the reference's HNSW config stands in for,
    /root/reference/docs/INFRASTRUCTURE.md:227-244): a coarse k-means
    quantizer assigns every vector to one of n_lists inverted lists, and a
    product quantizer encodes each vector's RESIDUAL x − c_list as m byte
    codes. Residual encoding is what makes the composition worth having:
    residuals concentrate near 0 across all lists, so one shared codebook
    quantizes them far better than it quantizes raw positions.

    Steps: `kmeans_fit` for the coarse quantizer, one zero-shuffle
    mapInPandas pass to form residuals (the centroids ship in the
    closure), `pq_fit` over the residuals, then one broadcast-hash join to
    attach the list id to the packed codes.

    Returns (coarse_centroids, codebooks, encoded):
      coarse_centroids — list[(cid, [float])] (driver-side, n_lists rows);
      codebooks        — DataFrame (s, cid, centroid array<float>);
      encoded          — DataFrame (pqid long, cid int, c0..c{m-1} int),
                         the stored index: m bytes + a list id per vector.
    At 10^12 vectors `encoded` is what you persist, partitioned by cid so a
    probed search prunes whole partitions."""
    import numpy as np

    from .dedup import _scoped_persist

    _integral_ids("ivfpq_fit", (corpus, id_col))
    vecs = corpus.select(id_col, vec_col)
    # the coarse Lloyd iterations; their lazy assignment frame is unused:
    # the pass below recomputes the same assignment with the residuals
    kmeans_fit(vecs, id_col, vec_col, k=n_lists, iterations=coarse_iterations)
    coarse = kmeans_fit.last_centroids
    Cc = np.asarray([v for _, v in coarse], dtype=np.float32)

    def assign_resid_gen(batches):
        import numpy as _np
        import pandas as _pd

        for b in batches:
            if not len(b):
                continue
            V = _np.stack(b[vec_col].to_numpy()).astype(_np.float32)
            cid = _np_nearest(V, Cc)
            R = V - Cc[cid]  # float32 residuals
            yield _pd.DataFrame({
                id_col: b[id_col],
                "cid": cid.astype(_np.int32),
                "__resid": list(R),
            })

    id_type = corpus.schema[id_col].dataType.simpleString()
    # persisted (and released with release_intermediates()): pq_fit makes
    # ~pq_iterations+2 passes over `residuals`, each of which would redo it
    residuals = _scoped_persist(
        vecs.mapInPandas(
            assign_resid_gen, f"{id_col} {id_type}, cid int, __resid array<float>"
        )
    )
    cb, enc = pq_fit(
        residuals, id_col, "__resid", m=m, dim=dim, k=codes,
        iterations=pq_iterations,
    )
    enc_listed = enc.join(
        F.broadcast(
            residuals.select(
                F.col(id_col).cast("long").alias("pqid"), "cid"
            )
        ),
        "pqid",
    )
    return coarse, cb, enc_listed


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 3,
    nprobe: int = 2,
    n_lists: int = 4,
    m: int = 4,
    dim: int = 64,
    codes: int = 16,
    coarse_iterations: int = 4,
    iterations: int = 3,
    rerank: int = 0,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    index=None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Composed IVF×PQ search — the production 10^12-vector serving shape:
    coarse-quantizer PRUNE (only the nprobe nearest
    lists per query are scanned; nprobe ≥ n_lists probes every list, as
    ivf_topk and ivf_topk_kmeans do), per-list residual-PQ ADC over the
    packed codes with one distance table per (query, probed list), then
    exact cosine re-rank of the candidate pool on the original vectors.

    vs `pq_topk_lut`: that path scans the WHOLE code stream per query;
    here each query touches ~nprobe/n_lists of it. Both run `_adc_scan`,
    which pushes the probed lists ahead of the scan as a `cid IN (...)`
    filter, so a code stream persisted partitioned-by-cid prunes unscanned
    partitions entirely.

    Determinism: coarse probe ranks on squared L2 rounded half-up to 9
    (binary, as `_np_nearest`) with ties to the lowest cid; residual
    tables round the same way; ADC sums, ties and the per-batch cut are
    `_adc_scan`'s. The composition is pinned-oracle territory like
    pq_topk_lut/opq_topk; the ADC→exact agreement contract is pinned by
    tests.

    index: pass `ivfpq_fit(...)`'s (coarse_centroids, codebooks, encoded)
    to skip the fit — train once, serve every query batch. rerank > k
    requires `corpus` for the exact stage. queries are the bounded side
    (`_adc_queries`, as pq_topk_lut)."""
    import numpy as np

    _integral_ids("ivfpq_topk", (queries, query_id), (corpus, corpus_id))
    if index is None:
        if corpus is None:
            raise ValueError("pass corpus or a prebuilt index=ivfpq_fit(...)")
        index = ivfpq_fit(
            corpus, corpus_id, corpus_vec, n_lists=n_lists, m=m, dim=dim,
            codes=codes, coarse_iterations=coarse_iterations,
            pq_iterations=iterations,
        )
    coarse, cb, enc_listed = index
    n_lists = len(coarse)
    nprobe = min(nprobe, n_lists)
    sub = dim // m

    qids, Q, empty = _adc_queries(
        "ivfpq_topk", queries, corpus, enc_listed, k, rerank, max_queries,
        query_id, query_vec, corpus_id,
    )
    if empty is not None:
        return empty
    CB = _codebook_array(cb, m, codes, sub)
    nq = len(qids)
    Cc = np.zeros((n_lists, dim), dtype=np.float32)
    for cid, vec in coarse:
        Cc[cid] = np.asarray(vec, dtype=np.float32)

    # coarse probe: rounded squared L2 (the _np_nearest discipline), stable
    # argsort => ties to the lowest cid
    diff = Q[:, None, :] - Cc[None, :, :]                 # float32
    d2 = (diff * diff).astype(np.float64).sum(axis=2)
    d2 = np.floor(d2 * 1e9 + 0.5) / 1e9                   # HALF_UP to 9
    probes = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]  # (nq, nprobe)

    # per-(query, probed-list) residual distance tables:
    # D[qi, slot, s, c] = || (q - c_list)_s  -  CB[s, c] ||², rounded to 9
    D = np.zeros((nq, nprobe, m, codes), dtype=np.float64)
    for qi in range(nq):
        qr = Q[qi][None, :] - Cc[probes[qi]]              # (nprobe, dim) f32
        for s in range(m):
            qs = qr[:, s * sub : (s + 1) * sub]           # (nprobe, sub)
            dd = qs[:, None, :] - CB[s][None, :, :]       # f32
            D[qi, :, s, :] = (dd * dd).astype(np.float64).sum(axis=2)
    D = np.floor(D * 1e9 + 0.5) / 1e9

    # slot lookup: for each query, list id -> probe slot (or -1 = unprobed)
    slot = np.full((nq, n_lists), -1, dtype=np.int64)
    slot[np.arange(nq)[:, None], probes] = np.arange(nprobe)
    return _adc_scan(queries, corpus, enc_listed, qids, D, slot, "cid", k,
                     rerank, query_id, query_vec, corpus_id, corpus_vec)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    list_col: str = "label",
) -> DataFrame:
    cents = centroids_by(corpus, list_col, corpus_vec)
    q2c = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", cosine_rounded(F.col(query_vec), F.col("centroid"))
    )
    wq = Window.partitionBy(query_id).orderBy(F.desc("cscore"), F.asc(list_col))
    probed = (
        q2c.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id, query_vec, list_col)
    )
    Q = probed.collect()
    # the probed-lists filter is a pushable predicate on the corpus scan
    listed = corpus.select(corpus_id, corpus_vec, list_col).filter(
        F.col(list_col).isin(list(dict.fromkeys(r[2] for r in Q)))
    )
    return _cosine_topk(listed, Q, k, queries, query_id, query_vec, corpus_id,
                        corpus_vec, lambda b: b[list_col].to_numpy())

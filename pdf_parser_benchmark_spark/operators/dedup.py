"""Deduplication suite for large-scale training-data pipelines.

Five strategies, all shuffle-conscious:

- exact: groupBy a text hash, keep min id. One shuffle of (hash, id) pairs
  only — never shuffles document bodies.
- MinHash + LSH: word-shingles → ONE 60-bit base hash per shingle (md5 hex
  prefix, or xxhash64 on the prod path) → K universal-hash variants
  h_i = (a_i·x + b_i) mod p (p = 2^31−1) → min per doc → B bands of R →
  bucket id per band → self-join on (band, bucket) yields candidate pairs →
  exact Jaccard verify, arrays attached only to candidate ids (semi-join
  first — never shuffles shingle arrays for non-candidates). The md5 base
  keeps every stage reproducible in ANSI SQL (DuckDB oracle); the affine
  family is the standard universal-hashing MinHash construction (public
  literature: Broder 1997; Carter–Wegman; MMDS ch.3).
- SimHash: 64-bit sign-aggregated fingerprint via md5(word) bits; near-dups
  = hamming distance ≤ t on bucketed prefixes.
- n-gram Jaccard: exact verify metric, also standalone within a blocking
  key.
- embedding cosine: near-dup pairs over array<float> vectors, pruned by a
  blocking column (label/IVF list) to avoid the full cross product.

At 10^12 rows the self-joins are the dominant shuffle: candidates are
(band, bucket)-partitioned, so hot buckets (boilerplate-heavy shingle sets)
are the skew risk — AQE skew-join is on (session.py) and bucket ids include
the band index so the B bands spread over the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import shingles
from ..functions import similarity as S
from ..functions.similarity import jaccard_arrays


# ---------------------------------------------------------------------------
# scoped persist: the multi-branch plans below persist tiny intermediate
# frames (candidate pairs, banded buckets, fingerprints) that both sides of
# a self-join read. The returned plan is lazy, so the cache can only be
# released AFTER the caller materializes it — register every persist here
# and have long-lived sessions (bench loop, parity harness) call
# release_intermediates() between queries, instead of leaking blocks until
# LRU eviction pressure sets in.
# ---------------------------------------------------------------------------

_LIVE_INTERMEDIATES: list[DataFrame] = []


def _scoped_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_INTERMEDIATES.append(df)
    return df


def release_intermediates() -> int:
    """Unpersist every intermediate cached by the dedup/ANN plans since the
    last call. Returns the number of frames released."""
    n = len(_LIVE_INTERMEDIATES)
    for df in _LIVE_INTERMEDIATES:
        try:
            df.unpersist()
        except Exception:
            pass
    _LIVE_INTERMEDIATES.clear()
    return n


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of each exact text group."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _window_hashes(text_col: Column, k: int) -> Column:
    """md5 of every overlapping k-token window of `text_col` (split on
    whitespace, original case), [] below k tokens. Windows are built by
    zipping k shifted slices with string concat (r7 — same gram strings as
    the former per-index slice+array_join, ~3× cheaper; see
    functions.text._sliding_join), then hashed in one transform."""
    words = F.split(F.trim(text_col), r"\s+")
    n = F.size(words)
    m = F.greatest(n - (k - 1), F.lit(0))
    g = F.slice(words, 1, m)
    for j in range(1, k):
        g = F.zip_with(
            g, F.slice(words, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, F.transform(g, F.md5)).otherwise(
        F.array().cast("array<string>")
    )


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    k: int = 5) -> DataFrame:
    """ExactSubstr duplicate-span inventory (Lee et al. 2021 §4.1): find
    every maximal token span whose k-token windows ALL occur more than
    once corpus-wide — the spans ExactSubstr would cut. The paper builds
    a single suffix array over the concatenated corpus; distributed, the
    equivalent coverage comes from hashing every overlapping k-token
    window (in-row, from the split token array — no position self-join),
    keeping windows whose hash repeats corpus-wide, and merging
    overlapping-or-adjacent surviving windows per doc into maximal spans
    (islands: new span when the window start jumps by more than k).

    Returns (id, span_start, span_end, n_windows) with token indices,
    span_end inclusive. Paper uses k=50 bytes; k is a parameter — small
    corpora want small k.

    Scale shape: one map-side-combined shuffle of (hash) for the dup
    census, one semi-join shuffle of (hash, id, pos) triples (bodies
    never move), then a doc-partitioned window for the merge.
    """
    win_hashes = _window_hashes(F.col(text_col), k)
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(win_hashes).alias("wpos", "whash"),
    )
    wins = _scoped_persist(wins)
    dups = (
        wins.groupBy("whash").agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("whash")
    )
    survivors = wins.join(dups, "whash", "left_semi")

    from pyspark.sql import Window

    order = Window.partitionBy("id").orderBy("wpos")
    flagged = survivors.withColumn(
        "new_span",
        F.when(
            F.col("wpos") - F.lag("wpos").over(order) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("id", "span_id").agg(
        F.min("wpos").alias("span_start"),
        (F.max("wpos") + k - 1).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).select("id", "span_start", "span_end", "n_windows")


def strip_dup_spans(df: DataFrame, id_col: str, text_col: str,
                    k: int = 5) -> DataFrame:
    """The ExactSubstr CUT step (Lee et al. 2021): remove every duplicated
    k-token span from every document EXCEPT its globally-first occurrence
    (min (id, pos) per window hash — the paper keeps one occurrence).
    Removable windows are merged into maximal spans per doc (same islands
    rule as duplicate_spans); a span that overlaps a kept window still
    goes — the keeper occurrence lives in the min-id doc, not here.

    Returns (id, n_tokens_before, n_tokens_after, n_spans_removed,
    clean_text). Conservation: before − after = Σ merged span lengths.

    Scale shape: the dup census and keeper election shuffle (hash) and
    (hash, id, pos) — never bodies; the rebuild is an in-row indexed
    array filter against the doc's own merged-span list (bounded by
    doc length)."""
    words_expr = F.split(F.trim(F.col(text_col)), r"\s+")
    win_hashes = _window_hashes(F.col(text_col), k)
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(win_hashes).alias("wpos", "whash"),
    )
    wins = _scoped_persist(wins)
    dup = wins.groupBy("whash").agg(
        F.count("*").alias("n"),
        F.min(F.struct("id", "wpos")).alias("keeper"),
    ).filter(F.col("n") > 1).select("whash", "keeper")
    removable = (
        wins.join(dup, "whash")
        .filter(
            (F.col("id") != F.col("keeper.id"))
            | (F.col("wpos") != F.col("keeper.wpos"))
        )
        .select("id", "wpos")
    )

    from pyspark.sql import Window

    order = Window.partitionBy("id").orderBy("wpos")
    flagged = removable.withColumn(
        "new_span",
        F.when(
            F.col("wpos") - F.lag("wpos").over(order) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = flagged.groupBy("id", "span_id").agg(
        F.min("wpos").cast("long").alias("s"),
        (F.max("wpos") + k - 1).cast("long").alias("e"),
    ).groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    base = df.select(F.col(id_col).alias("id"),
                     words_expr.alias("words"))
    joined = base.join(spans, "id", "left").withColumn(
        "spans", F.coalesce("spans", F.array().cast(
            "array<struct<s:long,e:long>>"))
    )
    kept_words = F.filter(
        F.col("words"),
        lambda w, i: ~F.exists(
            F.col("spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    return joined.select(
        "id",
        F.size("words").alias("n_tokens_before"),
        F.size(kept_words).alias("n_tokens_after"),
        F.size("spans").alias("n_spans_removed"),
        F.array_join(kept_words, " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# corpus-wide exact paragraph dedup (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr idea at
# paragraph granularity, the form production pipelines actually deploy)
# ---------------------------------------------------------------------------

def duplicate_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """→ (para, n_docs, n_occurrences, keep_id, keep_pos): every non-empty
    paragraph (split on `sep`, trimmed) that occurs in ≥ min_docs distinct
    documents, with the deterministic keeper occurrence = lowest (id, pos).

    Scale shape: posexplode streams (id, pos, para) once; the groupBy keys
    on the paragraph string itself (Spark hash-partitions it — at 10^12
    docs swap the key for xxhash64(para) and keep one exemplar via min) —
    only paragraph-sized rows shuffle, never document bodies, and the
    aggregation is map-side partial."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("para", F.trim("para")).filter(F.col("para") != "")
    return (
        paras.groupBy("para")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("keep"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "para",
            "n_docs",
            "n_occurrences",
            F.col("keep.id").alias("keep_id"),
            F.col("keep.pos").alias("keep_pos"),
        )
    )


def strip_duplicate_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """→ (id, text, n_dropped): rebuild each document keeping, for every
    corpus-duplicated paragraph, ONLY the keeper occurrence (lowest
    (id, pos)) — all other occurrences are dropped; unique paragraphs and
    blank lines pass through untouched.

    The drop-list join ships (id, pos) pairs only; the rebuild is an
    in-row array filter over the original split, so document text is
    neither exploded back nor shuffled."""
    dups = duplicate_paragraphs(df, id_col, text_col, min_docs, sep)
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("tp", F.trim("para")).filter(F.col("tp") != "")
    drops = (
        paras.join(dups, paras["tp"] == dups["para"])
        .filter(
            (F.col("id") != F.col("keep_id")) | (F.col("pos") != F.col("keep_pos"))
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("drop_pos"))
    )
    rebuilt = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .join(drops, "id", "left")
        .select(
            "id",
            F.concat_ws(
                sep,
                F.filter(
                    F.zip_with(
                        F.split(F.col("t"), sep),
                        F.sequence(
                            F.lit(0), F.size(F.split(F.col("t"), sep)) - 1
                        ),
                        lambda p, i: F.struct(p.alias("p"), i.alias("i")),
                    ),
                    lambda s: ~F.coalesce(
                        F.array_contains(F.col("drop_pos"), s["i"]), F.lit(False)
                    ),
                ).getField("p"),
            ).alias("text"),
            F.coalesce(F.size("drop_pos"), F.lit(0)).alias("n_dropped"),
        )
    )
    return rebuilt


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_P = 2_147_483_647  # 2^31 − 1, Mersenne prime — a·x+b stays < 2^63


def minhash_affine_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the Carter–Wegman universal hash
    family h_i(x) = (a_i·x + b_i) mod p. Shared by the Spark expressions and
    the generated DuckDB oracle SQL, so both sides are bit-identical."""
    return [
        (
            (i * 1_103_515_245 + 12_345) % (MINHASH_P - 1) + 1,
            (i * 134_775_813 + 1) % MINHASH_P,
        )
        for i in range(k)
    ]


def _base_hash(sh: Column, hash_fn: str) -> Column:
    """60-bit non-negative base hash of a shingle, reduced mod p.

    'md5': first 15 hex chars of md5 → bigint (ANSI-SQL-reproducible, the
    oracle path). 'xxhash64': one JVM xxhash64 (prod path — no string work)."""
    if hash_fn == "md5":
        x = F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("bigint")
    else:
        x = F.xxhash64(sh)
    return F.pmod(x, F.lit(MINHASH_P))


def _spread(df: DataFrame, key: str = "id") -> DataFrame:
    """Hash-repartition a CPU-heavy stage across all cores when the input
    arrives under-partitioned (e.g. one small parquet file → one split).
    No-op at scale: real inputs have ≥ cores splits, and when the condition
    does fire the repartition keys on `key`, so the downstream groupBy(key)
    reuses the exchange instead of shuffling again."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


def shingled(df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3,
             spread: bool = True) -> DataFrame:
    """→ (id, sh array<string>): the distinct word-shingle set per doc.
    The spread happens BEFORE the shingle projection so the CPU-heavy
    expression work lands on all cores, not on the single input split.
    Pass spread=False when the input is already post-shuffle (e.g. a join
    output): the partition probe (`df.rdd`) materializes every AQE query
    stage below it — a whole extra hidden job — and the repartition would
    re-shuffle rows AQE already distributed (r7 finding)."""
    slim = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    if spread:
        slim = _spread(slim)
    return slim.select("id", shingles(F.col("t"), shingle_k).alias("sh"))


def minhash_signature_from_shingles(
    docs: DataFrame,
    k: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sh array) → (id, sig array<bigint> of length k):
    sig[i] = min over shingles of (a_i·base(sh) + b_i) mod p.

    ZERO-SHUFFLE: the whole signature is one fold over the in-row shingle
    array — transform(sh, base) evaluates ONE base hash per shingle, then
    the aggregate lambda merges the k affine variants with a zip_with/least
    accumulator. No explode, no groupBy: the stage is embarrassingly
    parallel per document, which is exactly what you want in front of the
    banded self-join at corpus scale."""
    params = minhash_affine_params(k)
    init = F.array(*[F.lit(MINHASH_P).cast("bigint") for _ in range(k)])
    sig_expr = F.aggregate(
        F.transform(F.col("sh"), lambda s: _base_hash(s, hash_fn)),
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.array(
                *[(F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P) for a, b in params]
            ),
            lambda u, v: F.least(u, v),
        ),
    )
    return docs.select("id", sig_expr.alias("sig"))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """→ (id, sig array<bigint>): shingle then sign (see
    minhash_signature_from_shingles)."""
    return minhash_signature_from_shingles(
        shingled(df, id_col, text_col, shingle_k), k=k, hash_fn=hash_fn
    )


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate id pairs."""
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # both sides of the self-join read this frame — persist so the upstream
    # signature computation runs once (rows are (id, band, md5), tiny)
    banded = _scoped_persist(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify ≥ t.

    Two-pass, scale-shaped: signatures stream over all docs once; the verify
    stage SEMI-JOINS docs against the distinct candidate ids BEFORE attaching
    shingle arrays, so full arrays are shuffled only for actual candidates —
    at a 10^12-doc corpus the candidate set is orders of magnitude smaller
    than the corpus and this is the difference between a bounded verify join
    and re-shuffling every document body."""
    docs = shingled(df, id_col, text_col, shingle_k)
    sig = minhash_signature_from_shingles(docs, k=k, hash_fn=hash_fn)
    # candidate pairs are re-read three times below (join left side + both
    # id projections) — persist so LSH runs once, not per branch; the frame
    # is (id, id) pairs, orders of magnitude smaller than the corpus
    cands = _scoped_persist(
        lsh_candidate_pairs(sig, bands=bands, rows_per_band=k // bands)
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # semi-join the RAW input (not the shingled frame) so shingles are
    # computed only for candidate docs; persist because the shingle sets
    # feed both sides of the verify join. AQE broadcasts cand_ids when small.
    raw = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    needed = _scoped_persist(
        shingled(raw.join(cand_ids, "id", "left_semi"), "id", "t", shingle_k,
                 spread=False)
    )
    return (
        cands.join(
            needed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            needed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .withColumn("jaccard", jaccard_arrays(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text_col: Column) -> Column:
    """64-bit SimHash from word md5s, pure built-ins: per word take 64 bits
    of md5; sum ±1 per bit position; sign → fingerprint bits."""
    words = F.array_distinct(F.split(F.lower(F.trim(text_col)), r"\s+"))
    # per word: long from first 15 hex chars (60 bits, sign-safe)
    hashes = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint"))
    shr = lambda h, i: F.call_function("shiftright", h, i.cast("int"))
    shl = lambda h, i: F.call_function("shiftleft", h, i.cast("int"))
    bit_sums = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(shr(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_sums,
            F.sequence(F.lit(0), F.lit(59)),
            lambda s, i: F.when(s > 0, shl(F.lit(1).cast("bigint"), i)).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


SIMHASH_BITS = 60
SIMHASH_ROTATIONS = (0, 15, 30, 45)


def rotate_fp(fp: Column, r: int, bits: int = SIMHASH_BITS) -> Column:
    """Left-rotate a `bits`-wide fingerprint by r — masked BEFORE the shift
    so the bigint never overflows (fp < 2^60; a plain << would spill past
    bit 63)."""
    if r == 0:
        return fp
    low_mask = (1 << (bits - r)) - 1
    return F.call_function(
        "shiftleft", fp.bitwiseAND(F.lit(low_mask)), F.lit(r)
    ).bitwiseOR(F.call_function("shiftright", fp, F.lit(bits - r)))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 12,
    rotations: tuple[int, ...] = SIMHASH_ROTATIONS,
) -> DataFrame:
    """Near-dup pairs: multi-permutation prefix blocking, verify hamming ≤ t.

    Single-prefix blocking misses any pair whose differing bits land in the
    top `prefix_bits` — the standard fix (Manku et al., WWW'07, public
    literature) is to block on the prefix of several bit-rotations of the
    fingerprint and union the candidates. A pair within hamming ≤ t is
    missed only if EVERY rotation puts ≥1 differing bit in its prefix
    window; with 4 spread rotations of a 60-bit fingerprint the windows
    cover 48 of 60 bit positions, so recall rises steeply vs one window
    (the recall test pins it against brute force).

    The self-join keys on (rotation, block), so every rotation spreads over
    the cluster; verification uses the ORIGINAL fingerprints carried through
    the join — hamming is rotation-invariant but we never rely on that."""
    slim = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")))
    # persist: the self-join reads fp twice; 16 bytes/row, never recompute
    # the 60-position bit aggregation per side
    fp = _scoped_persist(slim.select("id", simhash64(F.col("t")).alias("fp")))
    blocked = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.call_function(
                            "shiftright",
                            rotate_fp(F.col("fp"), r),
                            F.lit(SIMHASH_BITS - prefix_bits),
                        ).alias("blk"),
                    )
                    for r in rotations
                ]
            )
        ).alias("rb"),
    ).select("id", "fp", "rb.r", "rb.blk")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, ["r", "blk"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming64(F.col("a.fp"), F.col("b.fp")))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard within blocking keys / embedding cosine
# ---------------------------------------------------------------------------

def jaccard_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """All-pairs word-shingle Jaccard within a blocking key."""
    docs = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, "blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("jaccard", jaccard_arrays(F.col("a.sh"), F.col("b.sh")))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "jaccard")
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (Charikar 2002,
    public literature): component = md5-derived int in [−1, 1] at 3-decimal
    granularity — exactly representable, so Spark and the DuckDB oracle
    compute identical dot-product signs."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{h}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for d in range(dim)
        ]
        for h in range(n_planes)
    ]


def rh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bit signature: bit h = 1 iff dot(vec, plane_h) > 0."""
    bits = []
    for h, plane in enumerate(planes):
        plit = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, plit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(dot > 0, F.lit(1 << h).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def embedding_neardup_rh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    n_planes: int = 16,
    bands: int = 2,
    dim: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Cosine near-dup pairs with NO blocking column: random-hyperplane
    sign-LSH buckets candidates (P[bit collision] = 1 − θ/π), banded like
    MinHash so a pair colliding on ANY band of n_planes/bands bits becomes
    a candidate; exact cosine verifies. Replaces the label/IVF-list
    requirement of embedding_neardup_pairs for unlabeled corpora."""
    planes = hyperplanes(n_planes, dim)
    per_band = n_planes // bands
    mask = (1 << per_band) - 1
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        # norm per vector, not per candidate pair (bit-identical, r7)
        S.norm(F.col(vec_col)).alias("vn"),
        rh_signature(F.col(vec_col), planes).alias("sig"),
    )
    sig = _scoped_persist(sig)  # both self-join sides read it
    banded = sig.select(
        "id",
        "v",
        "vn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.call_function(
                            "shiftright", F.col("sig"), F.lit(b * per_band)
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "v", "vn", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        # round ONCE at the output precision: re-rounding a 6-digit value to
        # 4 digits double-rounds (0.31234992 → 0.312350 → 0.3124 ≠ 0.3123)
        .withColumn(
            "cosine",
            S.cosine_rounded_prenormed(
                F.col("a.v"), F.col("b.v"), F.col("a.vn"), F.col("b.vn"), digits
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    digits: int = 6,
) -> DataFrame:
    """Cosine near-dup pairs within a blocking key (label / IVF list).
    `digits` sets the single output rounding — never re-round the result
    (double rounding flips boundary values)."""
    docs = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        S.norm(F.col(vec_col)).alias("vn"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, "blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "cosine",
            S.cosine_rounded_prenormed(
                F.col("a.v"), F.col("b.v"), F.col("a.vn"), F.col("b.vn"), digits
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    digits: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): drop documents whose
    embeddings are near-identical within a cluster. The paper clusters
    with k-means and keeps one item per semantic-duplicate group; here
    the cluster is the blocking column (a label, or a kmeans_fit /
    ivf list id plugged in upstream) and the keep policy is deterministic
    min-id-wins: a doc is DROPPED iff some smaller-id doc in its block is
    within the cosine threshold. Returns
    (id, block, keep, n_close_predecessors, max_predecessor_cosine).

    Scale shape: the pairwise stage is the block-partitioned self-join of
    embedding_neardup_pairs (never a global cross product); the verdict
    is a left join of (id_b, stats) back to the corpus — only ids and two
    scalars move."""
    pairs = embedding_neardup_pairs(
        df, id_col, vec_col, block_col, threshold, digits
    )
    close_pred = pairs.groupBy(F.col("id_b").alias("id")).agg(
        F.count("*").alias("n_close_predecessors"),
        F.max("cosine").alias("max_predecessor_cosine"),
    )
    return (
        df.select(F.col(id_col).alias("id"),
                  F.col(block_col).alias("block"))
        .join(close_pred, "id", "left")
        .select(
            "id", "block",
            F.col("n_close_predecessors").isNull().alias("keep"),
            F.coalesce("n_close_predecessors", F.lit(0))
            .alias("n_close_predecessors"),
            "max_predecessor_cosine",
        )
    )


# ---------------------------------------------------------------------------
# dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components_two_phase(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """(id) nodes + (id_a, id_b) undirected edges → (id, cluster), where
    cluster is the minimum id reachable — the canonical representative of
    each near-duplicate group (what a training pipeline keeps one of).
    Alternating large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", ACM SoCC'14, public algorithm)
    converge in O(log² n) rounds on ANY graph, so a path-shaped duplicate
    chain of length 10⁶, which defeats diameter-bounded hash-min label
    propagation, still terminates; a fixpoint not reached in max_iter
    rounds raises.

    Scale shape: no adjacency lists are ever materialized — per-node mins
    come from groupBy, neighbors re-join against them — so each round
    shuffles only the edge list and (node, min) pairs. Convergence is an
    edge-multiset digest (count + bit_xor of xxhash64), one tiny collect
    per round. Each round's edge set is localCheckpoint-ed: iterative
    plans otherwise grow multiplicatively and the analyzer, not the
    executors, becomes the bottleneck (a cluster job pre-empting executor
    loss would use reliable checkpoint(dir) instead, same call site).

    large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
    small-star(u): key edges on the larger endpoint; attach its smaller
    neighbors and u itself to m = min(N(u) ∪ {u})
    Fixpoint: every edge is (child, component-min) — a depth-1 star."""
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        big = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mn2 = big.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            big.join(mn2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mn2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        digest = tuple(
            small.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
            ).collect()[0]
        )
        e = small
        if digest == prev:
            converged = True
            break
        prev = digest
    if not converged:
        raise RuntimeError(
            f"connected_components_two_phase did not converge in {max_iter} "
            "rounds; raise max_iter — an unconverged fixpoint must not pass "
            "as a result"
        )
    # at the fixpoint every edge is (child, root); roots and isolated
    # nodes label themselves
    parents = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("p"))
    return (
        nodes.select("id")
        .join(parents, "id", "left")
        .select("id", F.coalesce("p", F.col("id")).alias("cluster"))
    )

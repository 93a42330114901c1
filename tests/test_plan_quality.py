"""Physical-plan assertions: filters reach the parquet scan, small dims
broadcast, the extraction plan is shuffle-free, whole-stage codegen covers
the relational queries. These pin the *plan shape* that makes the 100 TB
story true, not just the small-scale results."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_benchmark_spark.queries import QUERIES


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_metadata_filter_pushdown(spark, sf_dir):
    plan = _plan(QUERIES["metadata_filter"](spark, sf_dir))
    assert "PushedFilters" in plan
    # the lang equality must be pushed into the scan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")


def test_scan_prunes_columns(spark, sf_dir):
    df = QUERIES["distinct_sources"](spark, sf_dir)
    plan = _plan(df)
    start = plan.find("ReadSchema")
    read_schema = plan[start : plan.find("\n", start)]
    assert "source" in read_schema and "text" not in read_schema


def test_equi_join_broadcasts_dim(spark, sf_dir):
    plan = _plan(QUERIES["manifest_equi_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["anti_join_resume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_extraction_plan_is_shuffle_free(spark):
    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages
    from pdf_parser_benchmark_spark.synth.pages import generate_pages_df

    pages = generate_pages_df(spark, 10, partitions=2)
    # generator source (Range → mapInPandas) — no Exchange anywhere
    df = extract_pages(pages, n_splits=8)
    assert "Exchange" not in _plan(df)
    # exactly one extractor node, a MapInPandas running _extract_batches:
    # the benchmark tracer finds the extract stage by this node name
    simple = _plan(df, "simple")
    assert simple.count("MapInPandas _extract_batches(") == 1
    assert simple.count("_extract_batches") == 1


def test_extracted_columns_parse_canonical_once(spark):
    """text, spans and meta come from one from_json over canonical: the full
    frame parses each record once, and a reader of url and canonical only
    parses nothing."""
    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages
    from pdf_parser_benchmark_spark.synth.pages import generate_pages_df

    df = extract_pages(generate_pages_df(spark, 10, partitions=2), n_splits=8)

    def optimized(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    assert optimized(df).count("from_json(") == 1
    assert optimized(df.select("text")).count("from_json(") == 1
    assert "from_json(" not in optimized(df.select("url", "canonical"))


@pytest.mark.parametrize(
    "threshold, top_join_key",
    [(None, "o_custkey"), ("1", "l_orderkey"), ("-1", "l_orderkey")],
    ids=["default", "1-byte", "disabled"],
)
def test_tpch_q3_join_order_follows_broadcast_threshold(
    spark, sf_dir, threshold, top_join_key
):
    """tpch_q3 reads spark.sql.autoBroadcastJoinThreshold from the session:
    at sf0.001 orders fits the default, so lineitem joins all of orders and
    the BUILDING customers are joined last; a threshold below the orders
    size, or <= 0 (broadcast off), takes the reduced side, where customers
    filter orders first and lineitem is joined last."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        plan = _plan(QUERIES["tpch_q3_topk"](spark, sf_dir), "simple")
    finally:
        spark.conf.set(key, before)
    top_join = next(ln for ln in plan.splitlines() if "Join [" in ln)
    assert f"[{top_join_key}#" in top_join, top_join


def test_tpch_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine before the exchange: only pre-aggregated rows
    shuffle (the 100 TB property). Codegen spans aren't labeled in AQE's
    pre-execution formatted plan, so we assert the partial/final split."""
    plan = _plan(QUERIES["tpch_q1_pricing"](spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine present
    assert "Exchange" in plan  # …and it feeds the single agg exchange


def test_tpch_q1_filter_pushed(spark, sf_dir):
    plan = _plan(QUERIES["tpch_q1_pricing"](spark, sf_dir))
    compact = plan.replace(" ", "")
    assert "PushedFilters:[IsNotNull(l_quantity),LessThan(l_quantity" in compact


def test_lineage_uses_partial_aggregation(spark):
    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages
    from pdf_parser_benchmark_spark.sources.lineage import lineage_counters
    from pdf_parser_benchmark_spark.synth.pages import generate_pages_df

    pages = generate_pages_df(spark, 10, partitions=2)
    plan = _plan(lineage_counters(extract_pages(pages, n_splits=8)))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_minhash_signature_plan_is_shuffle_free(spark):
    """The in-row signature fold must not shuffle: no explode/groupBy —
    the whole stage is a projection over the scan (+ at most the _spread
    repartition when the input arrives under-partitioned)."""
    from pdf_parser_benchmark_spark.operators.dedup import (
        minhash_signature_from_shingles,
    )

    docs = spark.createDataFrame(
        [(i, ["a b c", "b c d"]) for i in range(10)],
        "id long, sh array<string>",
    ).repartition(4)  # already-parallel input: _spread must not fire
    plan = _plan(minhash_signature_from_shingles(docs, 16, "md5"))
    body = plan.split("== Physical Plan ==")[-1]
    # one repartition exchange from the test setup; no aggregate exchange
    assert "HashAggregate" not in body and "Generate" not in body


def test_webtext_ops_stay_codegen(spark, sf_dir):
    """URL canonicalization and PII redaction are pure built-in expression
    pipelines — no Python UDFs (BatchEvalPython/ArrowEvalPython) anywhere."""
    for q in ("url_canonicalize", "pii_redact", "hash_sample"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "EvalPython" not in plan, q


def test_ngram_topk_partial_aggregation(spark, sf_dir):
    """Corpus n-gram counting must map-side combine: only (gram, partial
    count) rows shuffle, never raw token rows."""
    plan = _plan(QUERIES["ngram_topk"](spark, sf_dir))
    assert "partial_count" in plan and "Exchange" in plan


def test_ivf_search_plans_have_no_join_and_one_exchange(spark, sf_dir):
    """Both IVF searches score the probed lists in one map-side pass over
    the corpus (the tiny probe side rides in the task closure): one
    MapInPandas, no join node, and the only Exchange is the top-k
    window's — the corpus is never shuffled."""
    import re

    from pdf_parser_benchmark_spark.operators.knn import ivf_topk, ivf_topk_kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    for out in (
        ivf_topk(queries, corpus, k=3, nprobe=2),
        ivf_topk_kmeans(queries, corpus, k=3, nprobe=2, n_lists=4),
    ):
        plan = _plan(out)
        assert "Join" not in plan
        assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
        assert "hashpartitioning(qid" in plan


def test_repetition_signals_plan_is_shuffle_free(spark, sf_dir):
    """Quality filtering at 10^12 docs must be a pure map pass: all the
    n-gram folds are in-row, so the plan has no Exchange at all."""
    plan = _plan(QUERIES["repetition_signals"](spark, sf_dir))
    assert "Exchange" not in plan


def test_contamination_check_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set broadcasts; the corpus side never self-joins."""
    plan = _plan(QUERIES["contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_gopher_rules_plan_is_shuffle_free_and_codegen(spark, sf_dir):
    """The Gopher gate at 10^12 docs must be a pure map pass: in-row array
    folds only — no Exchange, no Python UDFs."""
    plan = _plan(QUERIES["gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_dup_paragraphs_partial_aggregation(spark, sf_dir):
    """Corpus-wide paragraph counting must map-side combine: only
    (paragraph, partial count/min) rows shuffle, never document bodies."""
    plan = _plan(QUERIES["dup_paragraphs"](spark, sf_dir))
    assert "partial_count" in plan and "Exchange" in plan


def test_crawl_frontier_single_shuffle(spark, sf_dir):
    """Politeness scheduling is one hash Exchange on host (the window) —
    scheduling never concentrates on the driver."""
    import re

    plan = _plan(QUERIES["crawl_frontier"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(host" in plan
    assert "EvalPython" not in plan


def test_crawl_loop_single_shuffle(spark, sf_dir):
    """The composed crawl loop (sitemap discovery → robots gate →
    politeness frontier) stays one hash Exchange on host: discovery and
    gating run inside a single mapInPandas pass, only the window
    shuffles."""
    import re

    plan = _plan(QUERIES["crawl_loop"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(host" in plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1


def test_ivfpq_probed_list_filter_prunes_partitions(spark, tmp_path):
    """The IVF×PQ scale contract: a code stream PERSISTED partitioned by
    list id (cid) + the search's pushed `cid IN (...)` probe filter means
    unprobed lists never even reach the scan — the plan must show the
    probe as a partition filter with only the probed directories read."""
    from pdf_parser_benchmark_spark.operators.knn import ivfpq_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 3)
    _, _, enc = ivfpq_fit(corpus, n_lists=4, coarse_iterations=1,
                          pq_iterations=1)
    path = str(tmp_path / "codes")
    enc.write.partitionBy("cid").parquet(path)
    stored = spark.read.parquet(path)
    probed = stored.filter(F.col("cid").isin([0, 2]))
    plan = _plan(probed)
    start = plan.find("PartitionFilters")
    pf = plan[start : plan.find("]", start)]
    assert "cid" in pf  # probe reaches the scan as a partition filter
    # and the file index actually pruned: only the probed lists are read
    assert probed.select("cid").distinct().count() <= 2


def test_dup_spans_survivor_join_is_semi(spark, sf_dir):
    """dup_spans' survivor restriction must be a LEFT SEMI join (window
    rows checked against the dup census, never widened) and its census
    aggregate must have a map-side partial phase."""
    plan = _plan(QUERIES["dup_spans"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "partial_count" in plan  # map-side combine on the census


def test_bm25_postings_aggregates_partially(spark, sf_dir):
    """The BM25 postings/df builds must partially aggregate map-side —
    the inverted index is the only corpus-sized relation, and its shuffle
    volume must be the combined (doc,term) partials, not raw tokens."""
    plan = _plan(QUERIES["bm25_topk"](spark, sf_dir))
    assert "partial_count" in plan
    # the per-query top-k window stays partitioned by qid
    assert "row_number" in plan and "qid" in plan


def test_hll_register_shuffle_is_bounded(spark, sf_dir):
    """HLL's only per-key state is (key, bucket) registers: the plan must
    show partial_max on rho before the exchange (m rows per key max)."""
    plan = _plan(QUERIES["hll_distinct"](spark, sf_dir))
    assert "partial_max" in plan


def test_perplexity_tiers_no_global_sort(spark, sf_dir):
    """Tier thresholds come from the bounded score histogram, never a
    corpus-wide sort: no global (non-partitioned) Sort/Window over the
    doc stream."""
    import re

    plan = _plan(QUERIES["perplexity_tiers"](spark, sf_dir))
    assert not re.search(r"^\(\d+\) Window", plan, re.M)
    assert "rangepartitioning" not in plan  # the global-sort signature

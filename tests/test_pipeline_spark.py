"""Distributed pipeline properties: partitioning invariance, crash-resume
byte identity, lineage counters, golden parity of the Spark path vs the
pure-Python extractor (same bytes through mapInPandas)."""

import itertools
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_parser_benchmark_spark.plans.pipeline import (
    EXTRACTED_SCHEMA,
    extract_pages,
    run_pipeline,
)
from pdf_parser_benchmark_spark.sources.lineage import SUMMARY_COUNTERS, lineage_counters
from pdf_parser_benchmark_spark.sources.sink import read_extracted
from pdf_parser_benchmark_spark.synth.pages import generate_pages_df

N_ROWS = 120
POISON_URL = "https://h.example/poison.pdf"
# the columns the table derives from ``canonical`` outside the kernel
DERIVED = ("text", "spans", "chunk_count", "parser", "source")


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages_df(spark, N_ROWS, partitions=4)


def _canon_map(df):
    return {
        r["url"]: r["canonical"]
        for r in df.select("url", "canonical").collect()
    }


def test_extract_counts_and_no_errors(spark, pages):
    out = extract_pages(pages, n_splits=8, n_tasks=8).cache()
    assert out.count() == N_ROWS
    assert out.filter(F.col("error").isNotNull()).count() == 0
    parsers = {r["parser"] for r in out.select("parser").distinct().collect()}
    assert parsers == {"html", "pdf"}
    out.unpersist()


def test_partitioning_invariance(spark, pages):
    """Same input at different parallelism ⇒ identical bytes per url."""
    a = _canon_map(extract_pages(pages, n_splits=8, n_tasks=2))
    b = _canon_map(extract_pages(pages.repartition(13), n_splits=8, n_tasks=8))
    assert a == b


def test_spark_path_matches_pure_python(spark, pages):
    """mapInPandas output == driver-side extract_document_json bytes."""
    from pdf_parser_benchmark_spark.extract.assemble import extract_document_json
    from pdf_parser_benchmark_spark.synth.pages import gen_row

    got = _canon_map(extract_pages(pages, n_splits=8))
    for rid in (0, 3, 5, 42):
        row = gen_row(rid)
        assert got[row["url"]] == extract_document_json(row["url"], row["html"])


def test_crash_resume_byte_identity(spark, pages, tmp_path):
    out_a, mani_a = str(tmp_path / "outA"), str(tmp_path / "maniA")
    out_b, mani_b = str(tmp_path / "outB"), str(tmp_path / "maniB")

    run_pipeline(spark, pages, out_a, mani_a, n_splits=8, commit_batches=4)
    fa = _canon_map(spark.read.parquet(out_a))

    r1 = run_pipeline(
        spark, pages, out_b, mani_b, n_splits=8, commit_batches=4,
        fail_after_batches=2,
    )
    assert 0 < r1["splits_done"] < 8
    r2 = run_pipeline(spark, pages, out_b, mani_b, n_splits=8, commit_batches=4)
    assert r1["splits_done"] + r2["splits_done"] == 8
    fb = _canon_map(spark.read.parquet(out_b))
    assert fa == fb

    r3 = run_pipeline(spark, pages, out_b, mani_b, n_splits=8)
    assert r3["splits_done"] == 0  # idempotent noop


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_run_pipeline_reads_input_once_and_uncaches(spark, pages, tmp_path, monkeypatch):
    """The split listing and every commit batch share one evaluation of the
    input, and the job leaves nothing in Spark's cache on any way out:
    normal return, simulated crash, no-op re-run, error inside a batch."""
    from pdf_parser_benchmark_spark.plans import pipeline

    rows_read = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            rows_read.add(len(b))
            yield b

    counted = pages.mapInPandas(count_rows, schema=pages.schema)
    out, mani = str(tmp_path / "outE"), str(tmp_path / "maniE")
    spark.catalog.clearCache()

    run_pipeline(spark, counted, out, mani, n_splits=8, commit_batches=4)
    assert rows_read.value == N_ROWS
    assert _cache_is_empty(spark)

    out_b, mani_b = str(tmp_path / "outF"), str(tmp_path / "maniF")
    r1 = run_pipeline(spark, pages, out_b, mani_b, n_splits=8,
                      commit_batches=4, fail_after_batches=2)
    assert 0 < r1["splits_done"] < 8
    assert _cache_is_empty(spark)

    assert run_pipeline(spark, pages, out, mani, n_splits=8)["splits_done"] == 0
    assert _cache_is_empty(spark)

    def broken_write(df, output_dir, split_count, metrics=()):
        raise RuntimeError("write failed")

    monkeypatch.setattr(pipeline, "write_extracted", broken_write)
    with pytest.raises(RuntimeError, match="write failed"):
        run_pipeline(spark, pages, str(tmp_path / "outG"),
                     str(tmp_path / "maniG"), n_splits=8)
    assert _cache_is_empty(spark)


@pytest.mark.parametrize(
    "bad", [{"commit_batches": 0}, {"n_splits": 0}, {"n_splits": -8}],
    ids=["commit_batches=0", "n_splits=0", "n_splits=-8"],
)
def test_bad_job_arguments_rejected_before_any_spark_job(spark, pages, tmp_path, bad):
    """commit_batches and n_splits arrive from the job's command line: a
    value below 1 raises ValueError before the split-listing job runs."""
    ((name, value),) = bad.items()
    group = f"bad-{name}-{value}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=name):
            run_pipeline(spark, pages, str(tmp_path / "out"),
                         str(tmp_path / "mani"), **{"n_splits": 8, **bad})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_lineage_counters(spark, pages):
    out = extract_pages(pages, n_splits=8)
    lin = lineage_counters(out).collect()
    assert sum(r["docs_out"] for r in lin) == N_ROWS
    assert sum(r["docs_err"] for r in lin) == 0
    assert all(r["bytes_in"] > 0 for r in lin)
    assert sum(r["html_docs"] + r["pdf_docs"] for r in lin) == N_ROWS


def test_poison_document_isolated(spark):
    """A malformed payload must produce an error row, not kill the task
    (reference precedent: per-book continue-on-error, ingest.py:162-165)."""
    import pandas as pd

    rows = [
        {"url": "https://h.example/ok.html", "warc_ts": pd.Timestamp("2026-01-01"),
         "html": b"<main><p>fine</p></main>", "text": None, "lang": "en"},
        {"url": "https://h.example/bad.pdf", "warc_ts": pd.Timestamp("2026-01-01"),
         "html": b"%PDF-1.4 garbage without structure", "text": None, "lang": "en"},
    ]
    pages = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages(pages, n_splits=2).collect()
    by_url = {r["url"]: r for r in out}
    assert by_url["https://h.example/ok.html"]["error"] is None
    bad = by_url["https://h.example/bad.pdf"]
    # bad pdf either errors or yields an empty parse — never crashes the job
    assert bad["error"] is not None or bad["chunk_count"] == 0


def test_manifest_compaction(spark, pages, tmp_path):
    from pdf_parser_benchmark_spark.sources.checkpoint import (
        compact_manifest,
        read_completed_splits,
    )

    out, mani = str(tmp_path / "outC"), str(tmp_path / "maniC")
    run_pipeline(spark, pages, out, mani, n_splits=8, commit_batches=4)
    # force duplicate manifest rows: full re-run with resume disabled
    run_pipeline(spark, pages, out, mani, n_splits=8, commit_batches=4,
                 resume=False)
    raw_rows = spark.read.parquet(mani).count()
    assert raw_rows > 8
    n = compact_manifest(spark, mani)
    assert n == 8
    done = read_completed_splits(spark, mani)
    assert done.count() == 8
    # resume still recognizes everything as complete
    r = run_pipeline(spark, pages, out, mani, n_splits=8)
    assert r["splits_done"] == 0


def test_iceberg_sink_per_partition_replace_contract(spark, monkeypatch):
    """Pin the Iceberg write mode without the runtime jar: an existing table
    must get overwritePartitions() (replace exactly the written splits),
    NEVER createOrReplace() (which would wipe previously committed batches
    while the manifest still marks them complete)."""
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.sources import sink

    calls = []

    class FakeWriter:
        def __init__(self, table):
            self.table = table

        def partitionedBy(self, *cols):
            return self

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.table))

        def create(self):
            calls.append(("create", self.table))

        def createOrReplace(self):  # the bug this test forbids
            calls.append(("createOrReplace", self.table))

    df = spark.range(3).withColumn("split_id", F.lit(0))
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, t: FakeWriter(t), raising=True
    )

    monkeypatch.setattr(sink, "_table_exists", lambda s, t: True)
    sink.write_extracted(df, "cat.db.extracted", 1)
    assert calls == [("overwritePartitions", "cat.db.extracted")]

    calls.clear()
    monkeypatch.setattr(sink, "_table_exists", lambda s, t: False)
    sink.write_extracted(df, "cat.db.extracted", 1)
    assert calls == [("create", "cat.db.extracted")]


def test_resume_ignores_manifest_from_different_bucketing(spark, tmp_path):
    """Split 3 of 64 is not split 3 of 128: completed-split rows recorded
    under another n_splits must not suppress work in this run."""
    from pdf_parser_benchmark_spark.sources import checkpoint as ckpt

    mdir = str(tmp_path / "manifest")
    ckpt.mark_splits_complete({3: 100}, mdir, "runA", n_splits=64)
    assert ckpt.read_completed_splits(spark, mdir, n_splits=64).count() == 1
    assert ckpt.read_completed_splits(spark, mdir, n_splits=128).count() == 0
    assert ckpt.read_completed_splits(spark, mdir, n_splits=None).count() == 1


def test_compaction_latest_wins_and_crash_recovery(spark, tmp_path):
    """compact_manifest keeps the row with the highest commit_seq per split,
    and a crash that left the manifest renamed aside heals on next read."""
    import os

    from pdf_parser_benchmark_spark.sources import checkpoint as ckpt

    mdir = str(tmp_path / "manifest")
    ckpt.mark_splits_complete({7: 1}, mdir, "older", n_splits=8)
    ckpt.mark_splits_complete({7: 3}, mdir, "newer", n_splits=8)
    n = ckpt.compact_manifest(spark, mdir)
    assert n == 1
    row = spark.read.parquet(mdir).collect()[0]
    assert row["run_id"] == "newer" and row["rows_out"] == 3

    # simulate a crash between the two swap renames: live dir gone, .old left
    os.rename(mdir, mdir + ".old")
    assert ckpt.read_completed_splits(spark, mdir, n_splits=8).count() == 1
    assert os.path.isdir(mdir) and not os.path.isdir(mdir + ".old")


def test_write_extracted_no_small_files_blowup(spark, tmp_path):
    """Small-files invariant (r5, found by the 10M pipeline smoke: 2048
    tasks × 256 splits = 524,288 part files): write_extracted colocates
    each split before the partitioned write, so the part-file count scales
    with the number of SPLITS, not tasks × splits."""
    import glob

    from pdf_parser_benchmark_spark.sources.sink import write_extracted

    n_splits, n_parts = 8, 16
    rows = [(i, f"u{i}", i % n_splits) for i in range(400)]
    df = spark.createDataFrame(
        rows, "doc int, url string, split_id int"
    ).repartition(n_parts)  # many upstream tasks, each touching every split
    out = str(tmp_path / "sink_files")
    write_extracted(df, out, n_splits)
    parts = glob.glob(f"{out}/split_id=*/part-*")
    dirs = glob.glob(f"{out}/split_id=*")
    assert len(dirs) == n_splits
    # without colocation this would be up to n_parts*n_splits = 128 files
    assert len(parts) <= n_splits + 2, f"{len(parts)} part files"
    got = spark.read.parquet(out).count()
    assert got == 400


def _manifest_rows(tmp_path, name: str, split_id: int = 3):
    """Write one `complete` manifest row for ``split_id`` (n_splits=8) as a
    parquet file at ``name`` under a fresh manifest directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mdir = tmp_path / "manifest"
    path = mdir / name
    path.parent.mkdir(parents=True)
    pq.write_table(pa.table({
        "split_id": pa.array([split_id], pa.int32()),
        "status": ["complete"],
        "rows_out": pa.array([1], pa.int64()),
        "run_id": ["crashed"],
        "n_splits": pa.array([8], pa.int32()),
        "commit_seq": pa.array([1], pa.int64()),
    }), str(path))
    return str(mdir)


@pytest.mark.parametrize("name", [
    "_temporary/0/_temporary/attempt_0/part-00000.parquet",
    ".part-00000.parquet",
], ids=["crashed-spark-append", "hidden-file"])
def test_manifest_files_spark_ignores_do_not_count(spark, pages, tmp_path, name):
    """A manifest directory whose only parquet files are ones Spark's file
    listing skips (names starting with '_' or '.', at any depth) holds no
    completed split: the read returns no rows instead of failing to infer
    a schema, and the next run redoes every split."""
    from pdf_parser_benchmark_spark.sources.checkpoint import read_completed_splits

    mani = _manifest_rows(tmp_path, name)
    assert read_completed_splits(spark, mani, n_splits=8).count() == 0
    r = run_pipeline(spark, pages, str(tmp_path / "out"), mani, n_splits=8)
    assert r["splits_done"] == 8
    assert read_completed_splits(spark, mani, n_splits=8).count() == 8


def _last_job_result_tasks(sc, group: str) -> int:
    """Task count of the result stage of the last job in ``group``."""
    st = sc.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(job.stageIds)).numTasks


def test_commit_batch_write_uses_every_core_and_mark_starts_no_job(
    spark, pages, tmp_path, monkeypatch
):
    """Each commit batch is one extraction+write job: marking the batch's
    splits complete starts no Spark job, and the write's result stage runs
    min(splits in the batch, defaultParallelism) tasks, not the one task
    AQE coalesces a by-column repartition to."""
    from pdf_parser_benchmark_spark.plans import pipeline
    from pdf_parser_benchmark_spark.sources import checkpoint as ckpt

    sc = spark.sparkContext
    groups = {"write": [], "mark": []}
    seq = itertools.count()

    def in_group(kind, fn):
        def run(*args, **kwargs):
            group = f"{kind}-{tmp_path.name}-{next(seq)}"
            groups[kind].append(group)
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        return run

    monkeypatch.setattr(pipeline, "write_extracted",
                        in_group("write", pipeline.write_extracted))
    monkeypatch.setattr(ckpt, "mark_splits_complete",
                        in_group("mark", ckpt.mark_splits_complete))

    # 120 urls fill every one of 8 and of 16 splits
    for n_splits, commit_batches in ((8, 4), (16, 1)):
        groups["write"].clear()
        groups["mark"].clear()
        r = run_pipeline(spark, pages, str(tmp_path / f"out{n_splits}"),
                         str(tmp_path / f"mani{n_splits}"),
                         n_splits=n_splits, commit_batches=commit_batches)
        assert r["splits_done"] == n_splits
        per_batch = n_splits // commit_batches
        assert len(groups["write"]) == len(groups["mark"]) == commit_batches
        for g in groups["mark"]:
            assert sc.statusTracker().getJobIdsForGroup(g) == []
        want = min(per_batch, sc.defaultParallelism)
        assert [_last_job_result_tasks(sc, g) for g in groups["write"]] == (
            [want] * commit_batches
        )


def test_manifest_rows_out_equals_output_rows(spark, pages, tmp_path):
    """Every manifest row's rows_out is the number of output rows of its
    split, after a clean run and after a crash plus resume; compaction
    reads a manifest that mixes a Spark-written file with driver-written
    ones."""
    from pyspark.sql.types import _parse_datatype_string

    from pdf_parser_benchmark_spark.sources.checkpoint import (
        MANIFEST_SCHEMA,
        compact_manifest,
    )

    def check(out, mani):
        rows_out = {
            r["split_id"]: r["rows_out"]
            for r in spark.read.parquet(mani).select("split_id", "rows_out").collect()
        }
        written = {
            r["split_id"]: r["count"]
            for r in spark.read.parquet(out).groupBy("split_id").count().collect()
        }
        assert rows_out == written
        assert sum(written.values()) == N_ROWS

    out_a, mani_a = str(tmp_path / "outA"), str(tmp_path / "maniA")
    run_pipeline(spark, pages, out_a, mani_a, n_splits=8, commit_batches=4)
    assert spark.read.parquet(mani_a).count() == 8
    assert spark.read.parquet(mani_a).schema == _parse_datatype_string(MANIFEST_SCHEMA)
    check(out_a, mani_a)

    out_b, mani_b = str(tmp_path / "outB"), str(tmp_path / "maniB")
    r1 = run_pipeline(spark, pages, out_b, mani_b, n_splits=8,
                      commit_batches=4, fail_after_batches=2)
    assert 0 < r1["splits_done"] < 8
    run_pipeline(spark, pages, out_b, mani_b, n_splits=8, commit_batches=4)
    assert spark.read.parquet(mani_b).count() == 8
    check(out_b, mani_b)

    # an older Spark-written manifest file beside the driver-written ones
    (
        spark.range(8)
        .select(
            F.col("id").cast("int").alias("split_id"),
            F.lit("complete").alias("status"),
            F.lit(0).cast("bigint").alias("rows_out"),
            F.lit("spark").alias("run_id"),
            F.lit(8).cast("int").alias("n_splits"),
            F.lit(1).cast("bigint").alias("commit_seq"),
        )
        .coalesce(1).write.mode("append").parquet(mani_b)
    )
    assert spark.read.parquet(mani_b).count() == 16
    assert compact_manifest(spark, mani_b) == 8
    check(out_b, mani_b)


@pytest.fixture(scope="module")
def poisoned(spark, pages):
    """The test pages plus one PDF the parser rejects: an error row."""
    import pandas as pd

    bad = spark.createDataFrame(pd.DataFrame([{
        "url": POISON_URL,
        "warc_ts": pd.Timestamp("2026-01-01"),
        "html": b"%PDF-1.4 garbage without structure",
        "text": None,
        "lang": "en",
    }]), schema=pages.schema)
    return pages.unionByName(bad)


def test_summary_equals_lineage_totals_of_its_splits(spark, poisoned, tmp_path):
    """run_pipeline's summary comes from its batch writes, not a read-back;
    it equals the lineage counters of the output over exactly the splits
    the run committed: a clean run, a crash after two batches (only the
    committed batches count) and its resume."""

    def check(summary, out, splits):
        assert set(summary) == {"run_id", *SUMMARY_COUNTERS, "splits_done"}
        assert summary["splits_done"] == len(splits)
        lineage = lineage_counters(
            read_extracted(spark, out).filter(F.col("split_id").isin(list(splits)))
        ).collect()
        assert {key: summary[key] for key in SUMMARY_COUNTERS} == {
            key: sum(r[col] for r in lineage) for key, col in SUMMARY_COUNTERS.items()
        }

    out_a, mani_a = str(tmp_path / "outA"), str(tmp_path / "maniA")
    clean = run_pipeline(spark, poisoned, out_a, mani_a, n_splits=8, commit_batches=4)
    assert clean["docs"] == N_ROWS + 1 and clean["errors"] == 1
    check(clean, out_a, range(8))

    out_b, mani_b = str(tmp_path / "outB"), str(tmp_path / "maniB")
    crashed = run_pipeline(spark, poisoned, out_b, mani_b, n_splits=8,
                           commit_batches=4, fail_after_batches=2)
    first = {r["split_id"] for r in
             read_extracted(spark, out_b).select("split_id").distinct().collect()}
    assert 0 < len(first) < 8
    check(crashed, out_b, first)
    resumed = run_pipeline(spark, poisoned, out_b, mani_b, n_splits=8, commit_batches=4)
    check(resumed, out_b, set(range(8)) - first)
    for key in SUMMARY_COUNTERS:
        assert crashed[key] + resumed[key] == clean[key]


def test_no_job_starts_after_a_batch_write(spark, pages, tmp_path, monkeypatch):
    """The run summary is observed on the batch writes: once a write job
    has returned, run_pipeline starts no Spark job, neither between batches
    nor after the last one (the output is never read back)."""
    from pdf_parser_benchmark_spark.plans import pipeline

    sc = spark.sparkContext
    writes, tails = [], []
    write_extracted = pipeline.write_extracted

    def write(*args, **kwargs):
        group = f"write-{tmp_path.name}-{len(writes)}"
        writes.append(group)
        sc.setJobGroup(group, group)
        try:
            return write_extracted(*args, **kwargs)
        finally:
            sc.setJobGroup(tails[-1], tails[-1])

    monkeypatch.setattr(pipeline, "write_extracted", write)
    # clean; crash after two batches, then resume; full re-run in one batch
    runs = (("A", {"commit_batches": 4}),
            ("B", {"commit_batches": 4, "fail_after_batches": 2}),
            ("B", {"commit_batches": 4}),
            ("A", {"commit_batches": 1, "resume": False}))
    for i, (name, kwargs) in enumerate(runs):
        tails.append(f"after-write-{tmp_path.name}-{i}")
        try:
            run_pipeline(spark, pages, str(tmp_path / f"out{name}"),
                         str(tmp_path / f"mani{name}"), n_splits=8, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    assert len(writes) == 4 + 2 + 4 + 1  # the resume commits 4 splits one by one
    assert all(st.getJobIdsForGroup(g) for g in writes)
    assert [st.getJobIdsForGroup(g) for g in tails] == [[]] * len(runs)


def test_summary_observed_above_the_write_exchange(spark, pages, tmp_path):
    """In each commit batch's write plan the summary's CollectMetrics node
    sits above the repartition Exchange, in the write's result stage: a
    result task's metrics merge once per partition, a recomputed shuffle
    map stage's would count its rows twice. The write job parses no text
    or spans: it moves the record as stored, and the summary's parser
    counts read a parse of canonical whose schema holds only ``meta``."""
    out = str(tmp_path / "out")
    run_pipeline(spark, pages, out, str(tmp_path / "mani"), n_splits=8, commit_batches=2)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(executions.size() - 1, max(-1, executions.size() - 20), -1):
        plan = executions.apply(i).physicalPlanDescription()
        if f"file:{out}," in plan and "InsertIntoHadoopFsRelationCommand" in plan:
            plans.append(plan)
    assert len(plans) == 2
    for plan in plans:
        assert "from_json(StructField(meta," in plan
        assert "StructField(text," not in plan and "StructField(spans," not in plan
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        lines = final.splitlines()
        observe = [i for i, line in enumerate(lines) if "CollectMetrics" in line]
        exchange = [i for i, line in enumerate(lines) if "Exchange" in line]
        assert len(observe) == 1 and exchange
        assert observe[0] < exchange[0]
        indent = [len(lines[i]) - len(lines[i].lstrip(" +-")) for i in (observe[0], exchange[0])]
        assert indent[0] < indent[1]


def test_kernel_returns_only_the_canonical_record(poisoned):
    """The Python kernel hands Arrow one content column, ``canonical``, next
    to the row's scalars; the other content columns are derived in the JVM."""
    from pdf_parser_benchmark_spark.plans.pipeline import _extract_batches
    from pdf_parser_benchmark_spark.sources.checkpoint import with_split_id

    batch = with_split_id(poisoned, 8).toPandas()
    (out,) = _extract_batches(iter([batch]))
    assert list(out.columns) == [
        "url", "warc_ts", "lang", "canonical", "n_bytes_in", "error", "split_id",
    ]
    assert len(out) == N_ROWS + 1


def test_extracted_schema_is_exact(pages):
    """Names, order, types and nullability of the extracted frame."""
    assert extract_pages(pages, n_splits=8).schema == StructType.fromDDL(EXTRACTED_SCHEMA)


def test_derived_columns_equal_extract_document(poisoned):
    """text, spans, chunk_count, parser and source are the fields of
    extract_document's record for every row; the poison row has all five
    null and an error."""
    from pdf_parser_benchmark_spark.extract.assemble import extract_document

    payloads = {r["url"]: bytes(r["html"]) for r in poisoned.select("url", "html").collect()}
    rows = extract_pages(poisoned, n_splits=8).collect()
    assert len(rows) == N_ROWS + 1
    for r in rows:
        got = [r[c] for c in DERIVED]
        if r["url"] == POISON_URL:
            assert r["error"] is not None and r["canonical"] is None
            assert got == [None] * len(DERIVED)
            continue
        rec = extract_document(r["url"], payloads[r["url"]])
        assert r["error"] is None
        got[1] = [s.asDict() for s in got[1]]
        meta = rec["meta"]
        assert got == [rec["text"], rec["spans"],
                       meta["chunk_count"], meta["parser"], meta["source"]]


def test_text_longer_than_the_json_string_cap_is_derived(spark):
    """A document text of 21M chars (over Jackson's default 20M-char string
    cap) still comes out of canonical whole."""
    import pandas as pd

    n = 21_000_000
    page = spark.createDataFrame(pd.DataFrame([{
        "url": "https://h.example/long.html",
        "warc_ts": pd.Timestamp("2026-01-01"),
        "html": b"<main><p>" + b"a" * n + b"</p></main>",
        "text": None,
        "lang": "en",
    }]), schema="url string, warc_ts timestamp, html binary, text string, lang string")
    (row,) = extract_pages(page, n_splits=1).select(
        F.length("text").alias("n"), "error").collect()
    assert row["error"] is None and row["n"] == n


@pytest.fixture(scope="module")
def stored(spark, poisoned, tmp_path_factory):
    """A run_pipeline output directory over the poisoned pages."""
    base = tmp_path_factory.mktemp("stored")
    out = str(base / "out")
    run_pipeline(spark, poisoned, out, str(base / "mani"), n_splits=8)
    return out


def _sorted_rows(df):
    return sorted(df.collect(), key=lambda r: r["url"])


def test_output_stores_only_the_kernel_columns(spark, stored):
    """The table holds the kernel's seven columns: the record and its
    scalars, no parsed copy of the record."""
    import glob

    import pyarrow.parquet as pq

    from pdf_parser_benchmark_spark.plans.pipeline import _KERNEL_SCHEMA

    assert spark.read.parquet(stored).schema == StructType.fromDDL(_KERNEL_SCHEMA)
    files = glob.glob(f"{stored}/split_id=*/part-*.parquet")
    assert len(files) == 8
    for f in files:  # split_id is the partition directory, not a file column
        assert pq.read_schema(f).names == [
            "url", "warc_ts", "lang", "canonical", "n_bytes_in", "error",
        ]


def test_read_extracted_equals_extract_pages(spark, poisoned, stored):
    """Reading the stored record back derives exactly the rows extraction
    returns, over all EXTRACTED_SCHEMA columns, the error row included."""
    back = read_extracted(spark, stored)
    assert back.schema == StructType.fromDDL(EXTRACTED_SCHEMA)
    got = _sorted_rows(back)
    assert len(got) == N_ROWS + 1
    assert got == _sorted_rows(extract_pages(poisoned, n_splits=8))
    (poison,) = [r for r in got if r["url"] == POISON_URL]
    assert poison["error"] is not None


@pytest.mark.parametrize("split", [0, 7])
def test_read_extracted_reads_splits_stored_with_derived_columns(
    spark, poisoned, stored, tmp_path, split
):
    """A split written in the earlier 12-column format (the derived columns
    stored beside the record) reads the same next to splits that store the
    kernel's columns only, whichever format the read infers its schema from."""
    mixed = str(tmp_path / "mixed")
    shutil.copytree(stored, mixed)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        extract_pages(poisoned, n_splits=8)
        .filter(F.col("split_id") == split)
        .write.mode("overwrite").partitionBy("split_id").parquet(mixed)
    )
    assert set(DERIVED) <= set(spark.read.parquet(f"{mixed}/split_id={split}").columns)
    back = read_extracted(spark, mixed)
    assert back.schema == StructType.fromDDL(EXTRACTED_SCHEMA)
    assert _sorted_rows(back) == _sorted_rows(read_extracted(spark, stored))

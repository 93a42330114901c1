"""WARC writer↔reader round trips + end-to-end WARC→extraction parity with
the direct pages pipeline."""

import pytest

from pdf_parser_benchmark_spark.sources.warc import (
    parse_warc_file,
    read_warc_pages,
    split_gzip_members,
)
from pdf_parser_benchmark_spark.synth.pages import generate_pages_local
from pdf_parser_benchmark_spark.synth.warc_writer import build_warc


@pytest.fixture(scope="module")
def rows():
    return generate_pages_local(25)


def test_plain_warc_roundtrip(rows):
    data = build_warc(rows, gzip_members=False)
    got = parse_warc_file(data)
    assert len(got) == len(rows)  # warcinfo skipped
    for orig, back in zip(rows, got):
        assert back["url"] == orig["url"]
        assert back["html"] == orig["html"]
        assert back["warc_ts"] == orig["warc_ts"].replace(microsecond=0)


def test_gzip_member_warc_roundtrip(rows):
    data = build_warc(rows, gzip_members=True)
    assert data[:2] == b"\x1f\x8b"
    members = list(split_gzip_members(data))
    assert len(members) == len(rows) + 1  # + warcinfo
    got = parse_warc_file(data)
    assert [r["url"] for r in got] == [r["url"] for r in rows]
    assert all(g["html"] == o["html"] for g, o in zip(got, rows))


def test_malformed_warc_tolerated():
    assert parse_warc_file(b"not a warc at all") == []
    truncated = build_warc(generate_pages_local(3))[:100]
    assert isinstance(parse_warc_file(truncated), list)


def test_warc_to_extraction_matches_direct_pipeline(spark, rows, tmp_path):
    """WARC ingestion feeding the extractor produces the same canonical
    bytes as the direct pages pipeline (modulo the raw-text layer, which
    WARC does not carry)."""
    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages

    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    half = len(rows) // 2
    (warc_dir / "a.warc").write_bytes(build_warc(rows[:half]))
    (warc_dir / "b.warc.gz").write_bytes(build_warc(rows[half:], gzip_members=True))

    pages = read_warc_pages(spark, str(warc_dir))
    got = {
        r["url"]: r["canonical"]
        for r in extract_pages(pages, n_splits=4).select("url", "canonical").collect()
    }

    import pandas as pd

    direct_pages = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    want = {
        r["url"]: r["canonical"]
        for r in extract_pages(direct_pages, n_splits=4)
        .select("url", "canonical")
        .collect()
    }
    assert got == want


def test_member_offset_split_parity_and_parallelism(spark, rows, tmp_path):
    """One large .warc.gz split by member offsets across ≥4 tasks yields the
    SAME rows as the whole-file reader (canonical parity), and the work
    actually lands on multiple partitions."""
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.sources.warc import (
        build_member_index,
        read_warc_pages,
        read_warc_pages_split,
    )

    big = rows * 10  # 40 records → one file, many members
    data = build_warc(big, gzip_members=True)
    p = tmp_path / "big.warc.gz"
    p.write_bytes(data)

    index = build_member_index(data)
    assert len(index) == len(big) + 1  # warcinfo + responses
    assert sum(ln for _, ln in index) == len(data)  # covers the whole file

    whole = read_warc_pages(spark, str(p))
    split = read_warc_pages_split(spark, str(p), n_groups=4)
    key = lambda r: (r["url"], bytes(r["html"]))
    assert sorted(map(key, split.collect())) == sorted(map(key, whole.collect()))

    # the split read really uses ≥4 tasks
    parts = (
        split.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert parts >= 4

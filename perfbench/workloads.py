"""The benchmark's workloads: seeded inputs, the timed operation of each,
and the checks that its output is correct.

Every input is built from the repository's own generators
(``synth.pages.gen_row``, ``synth.vectors``); the seed picks the page row-id
window and the vector seed, and the program under test only ever sees the
generated files.  Generated page rows and their pure-function fingerprints
(md5 of ``extract_document_json``) are computed once per window and cached.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_TSV = os.path.join(ROOT, "tests", "golden", "corpus_fingerprints.tsv")

# Sizes are chosen so one run of each workload (JVM start, set-up, warm-up and
# measurement) fits the benchmark's time budget on a 4-core box. A warm
# crawl_warc operation costs about 9 s of Spark jobs whatever its size, plus
# about 1 ms per doc; at 4,000 docs the extraction stages are ~40% of it.
CRAWL_DOCS = 4000  # mixed window: ~90% HTML, ~10% PDF
WARC_FILES_PER_CORE = 2
VEC_N = 10_000  # retrieval corpus rows (plus planted neighbours)
VEC_DIM = 64
VEC_CLUSTERS = 16
VEC_QUERIES = 32
TOP_K = 10
NPROBE = 4
SETUP_REPS = 3


def window_start(seed: int) -> int:
    """Row-id window start; about half the seeds overlap the golden
    fingerprint rows (ids 0..2999)."""
    return (seed * 1237) % 5000


def vector_seed(seed: int) -> int:
    return 7 + seed


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _generate(ids: list[int]) -> list[dict]:
    from pdf_parser_benchmark_spark.extract.assemble import extract_document_json
    from pdf_parser_benchmark_spark.synth.pages import doc_class, gen_row

    out = []
    for i in ids:
        row = gen_row(i)
        row["row_id"] = i
        row["doc_class"] = doc_class(i)
        row["fp"] = md5_hex(extract_document_json(row["url"], row["html"]))
        out.append(row)
    return out


def _load_golden() -> dict[int, str]:
    golden: dict[int, str] = {}
    with open(GOLDEN_TSV) as f:
        for line in f:
            rid, fp = line.split()
            golden[int(rid)] = fp
    return golden


class Corpus:
    """Generated page rows of one window with their expected fingerprints.

    ``golden_mismatch`` counts rows whose pure-function fingerprint differs
    from ``tests/golden/corpus_fingerprints.tsv`` (only rows it covers)."""

    def __init__(self, rows: list[dict], golden_checked: int, golden_mismatch: int):
        self.rows = rows
        self.by_url = {r["url"]: r for r in rows}
        self.golden_checked = golden_checked
        self.golden_mismatch = golden_mismatch
        self.payload_bytes = sum(len(r["html"]) for r in rows)


def load_corpus(cache_dir: str, ids: list[int], workers: int) -> Corpus:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pdf_parser_benchmark_spark.synth.pages import CORPUS_VERSION

    key = hashlib.md5(repr(ids).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"pages-v{CORPUS_VERSION}-{ids[0]}-{len(ids)}-{key}.parquet")
    if os.path.exists(path):
        rows = pq.read_table(path).to_pylist()
    else:
        chunks = [ids[i : i + 64] for i in range(0, len(ids), 64)]
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as ex:
            rows = [r for part in ex.map(_generate, chunks) for r in part]
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp"
        pq.write_table(pa.Table.from_pylist(rows), tmp)
        os.replace(tmp, path)
    golden = _load_golden()
    covered = [r for r in rows if r["row_id"] in golden]
    bad = sum(golden[r["row_id"]] != r["fp"] for r in covered)
    return Corpus(rows, len(covered), bad)


def crawl_ids(seed: int, n: int) -> list[int]:
    start = window_start(seed)
    return list(range(start, start + n))


class Check:
    """Outcome of one operation's correctness check."""

    def __init__(self) -> None:
        self.fp_mismatch = 0  # wrong fingerprint, missing or duplicate url
        self.errors = 0  # docs with a non-null error
        self.docs = 0
        self.recall_exact = 1.0
        self.recall_ivf = 1.0

    @property
    def ok(self) -> bool:
        return self.fp_mismatch == 0 and self.errors == 0 and self.recall_exact == 1.0


def check_extracted(corpus: Corpus, rows) -> Check:
    """rows: (url, md5 of canonical, error) per output document."""
    c = Check()
    seen: set[str] = set()
    for url, fp, err in rows:
        c.docs += 1
        if err is not None:
            c.errors += 1
        exp = corpus.by_url.get(url)
        if exp is None or url in seen or exp["fp"] != fp:
            c.fp_mismatch += 1
        seen.add(url)
    c.fp_mismatch += len(corpus.by_url) - len(seen)
    return c


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One workload. ``prepare`` builds cached inputs (no Spark); ``setup``
    materializes them for the program once and is timed; ``reset`` runs
    untimed before every operation; ``op`` is the timed operation and
    returns what ``check`` needs."""

    name = ""
    # Untimed operations before the timed loop. The first operations of a
    # Spark context pay JIT compilation and Python-worker start-up: on 4
    # cores, crawl_warc's first four operations over 6,000 docs took 33, 18,
    # 15 and 14 s. One is what the time budget allows. On retrieval_topk the
    # operation after one warm-up can still be up to 45% slow; a 10 s timed
    # loop fits two or more there, and run.py reports their lower median.
    warmups = 1

    def __init__(self, seed: int, run_dir: str, cache_dir: str, cores: int, scale: float = 1.0):
        self.seed, self.run_dir, self.cache_dir, self.cores = seed, run_dir, cache_dir, cores
        self.scale = scale

    def scaled(self, n: int) -> int:
        return max(1, int(n * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def prepare(self) -> None: ...
    def setup(self, spark, target: str) -> None: ...
    def reset(self) -> None: ...
    def op(self, spark): ...

    def warm(self, spark) -> None:
        for _ in range(self.warmups):
            self.reset()
            self.op(spark)

    def check(self, spark, result) -> Check: ...
    def items(self) -> int: ...
    def input_bytes(self) -> int: ...
    def layer_sample(self) -> list[dict]:
        return []

    def corpus_info(self) -> dict:
        return {}


class CrawlWarc(Workload):
    """Fresh run_pipeline over per-record-gzip .warc.gz files."""

    name = "crawl_warc"

    def prepare(self) -> None:
        self.corpus = load_corpus(
            self.cache_dir, crawl_ids(self.seed, self.scaled(CRAWL_DOCS)), self.cores
        )
        self.n_files = WARC_FILES_PER_CORE * self.cores

    def setup(self, spark, target: str) -> None:
        from pdf_parser_benchmark_spark.synth.warc_writer import build_warc

        rows = sorted(self.corpus.rows, key=lambda r: r["url"])
        per = -(-len(rows) // self.n_files)
        os.makedirs(target)
        for i in range(self.n_files):
            chunk = rows[i * per : (i + 1) * per]
            with open(os.path.join(target, f"part-{i:04d}.warc.gz"), "wb") as f:
                f.write(build_warc(chunk, gzip_members=True))
        self.warc_dir = target
        self.warc_bytes = sum(
            os.path.getsize(os.path.join(target, f)) for f in os.listdir(target)
        )

    def reset(self) -> None:
        for d in ("out", "manifest"):
            shutil.rmtree(self.path(d), ignore_errors=True)

    def op(self, spark, out: str = "out", manifest: str = "manifest", fail_after_batches=None):
        """The production call: run_pipeline's own split and commit-batch
        defaults (64 splits in 4 write+mark batches)."""
        from pdf_parser_benchmark_spark.plans.pipeline import run_pipeline
        from pdf_parser_benchmark_spark.sources.warc import read_warc_pages

        return run_pipeline(
            spark, read_warc_pages(spark, self.warc_dir),
            self.path(out), self.path(manifest), fail_after_batches=fail_after_batches,
        )

    def output_diff(self, spark, a: str, b: str) -> int:
        """Rows (url, md5 of canonical, error, split) in one output directory
        and not the other, duplicates counted."""
        from collections import Counter

        from pyspark.sql import functions as F

        def rows(d: str) -> Counter:
            df = spark.read.parquet(self.path(d))
            return Counter(tuple(r) for r in df.select(
                "url", F.md5("canonical"), "error", "split_id").collect())

        ra, rb = rows(a), rows(b)
        return sum(((ra - rb) + (rb - ra)).values())

    def check(self, spark, summary) -> Check:
        from pyspark.sql import functions as F

        out = spark.read.parquet(self.path("out"))
        c = check_extracted(
            self.corpus,
            [tuple(r) for r in out.select("url", F.md5("canonical"), "error").collect()],
        )
        c.fp_mismatch += abs(summary["docs"] - len(self.corpus.rows))  # lineage totals
        return c

    def items(self) -> int:
        return len(self.corpus.rows)

    def input_bytes(self) -> int:
        return self.corpus.payload_bytes

    def layer_sample(self) -> list[dict]:
        return self.corpus.rows

    def corpus_info(self) -> dict:
        return {
            "docs": len(self.corpus.rows),
            "payload_bytes": self.corpus.payload_bytes,
            "warc_files": self.n_files,
            "warc_bytes": getattr(self, "warc_bytes", None),
            "golden_rows_checked": self.corpus.golden_checked,
            "row_id_window": [self.corpus.rows[0]["row_id"], self.corpus.rows[-1]["row_id"]],
        }


class RetrievalTopk(Workload):
    """Exact brute-force top-k, then IVF (k-means lists) with nprobe=4, over
    a clustered corpus with planted neighbours."""

    name = "retrieval_topk"

    def prepare(self) -> None:
        self.vseed = vector_seed(self.seed)
        self.n, self.n_queries = self.scaled(VEC_N), self.scaled(VEC_QUERIES)

    def setup(self, spark, target: str) -> None:
        from pdf_parser_benchmark_spark.synth.vectors import (
            generate_clustered_vectors,
            planted_queries_df,
        )

        generate_clustered_vectors(
            spark, self.n, dim=VEC_DIM, n_clusters=VEC_CLUSTERS, seed=self.vseed,
            planted_queries=self.n_queries,
        ).write.parquet(target)
        self.vec_dir = target
        self.queries = planted_queries_df(
            spark, self.n_queries, dim=VEC_DIM, n_clusters=VEC_CLUSTERS, seed=self.vseed
        )

    def op(self, spark, on_step=None):
        from pdf_parser_benchmark_spark.operators.knn import (
            brute_force_topk,
            ivf_topk_kmeans,
        )

        corpus = spark.read.parquet(self.vec_dir)
        step = on_step or (lambda name, fn: fn())
        exact = step(
            "operators.knn.brute_force_topk",
            lambda: brute_force_topk(self.queries, corpus, k=TOP_K)
            .select("qid", "vec_id").collect(),
        )
        ivf = step(
            "operators.knn.ivf_topk_kmeans",
            lambda: ivf_topk_kmeans(
                self.queries, corpus, k=TOP_K, nprobe=NPROBE,
                n_lists=VEC_CLUSTERS, iterations=4,
            ).select("qid", "vec_id").collect(),
        )
        return exact, ivf

    def check(self, spark, result) -> Check:
        exact, ivf = result
        # planted truth: query qi's exact top-k are rows n + qi*k .. n + qi*k + k-1
        truth = {
            (qi, self.n + qi * TOP_K + j) for qi in range(self.n_queries) for j in range(TOP_K)
        }
        c = Check()
        c.docs = self.n_queries
        c.recall_exact = len(truth & {tuple(r) for r in exact}) / len(truth)
        c.recall_ivf = len(truth & {tuple(r) for r in ivf}) / len(truth)
        if len(exact) != len(truth):
            c.fp_mismatch += abs(len(exact) - len(truth))
        return c

    def items(self) -> int:
        return self.n_queries

    def input_bytes(self) -> int:
        return (self.n + self.n_queries * TOP_K) * VEC_DIM * 4

    def corpus_info(self) -> dict:
        return {
            "vectors": self.n + self.n_queries * TOP_K,
            "dim": VEC_DIM,
            "clusters": VEC_CLUSTERS,
            "queries": self.n_queries,
            "vector_seed": self.vseed,
            "vector_bytes": self.input_bytes(),
        }


WORKLOADS = {w.name: w for w in (CrawlWarc, RetrievalTopk)}
